"""Multi-superchunk correctness for the two-level prefix sum.

The stock testdata's doc-id range is tiny: ids up to ~10^5 all land in
superchunk 0, so the registry-wide oracle compares never exercise the
code that stitches MULTIPLE superchunk offsets together (the in-row
array prefix + within-super window). These fixtures spread ids across
superchunk boundaries (span = 4096*4096 ≈ 16.7M ids) and replay the
naive-window DuckDB oracle, proving the decomposition exact where all
three levels are live. A negative-id case pins the truncating-``div``
subtlety: Spark's ``div`` truncates toward zero, so chunk 0 spans
(-4096, 4096) — WIDER than 4096 ids but still a contiguous doc-id
range in ascending-chunk order, which is the only property the
decomposition needs (DuckDB's ``//`` floors, but the oracle never
chunks, so the compare is chunking-independent).
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from etl_sales_pandas_sqlserver_spark.functions.sharding import (
    SHARD_MANIFEST_SQL,
    q_shard_manifest_tokens,
)

from .oracle_compare import compare, run_oracle

_SUPER_SPAN = 4096 * 4096  # ids per superchunk


def _write_docs(tmp_path, doc_ids: list[int]) -> str:
    texts = [
        " ".join(f"w{j}" for j in range((i % 7) + 1))
        for i in range(len(doc_ids))
    ]
    tbl = pa.table(
        {
            "doc_id": pa.array(doc_ids, pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(["en"] * len(doc_ids), pa.string()),
            "source": pa.array(
                [f"src{i % 3}" for i in range(len(doc_ids))], pa.string()
            ),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    d = tmp_path / "docs"
    d.mkdir()
    pq.write_table(tbl, str(d / "documents.parquet"))
    return str(d)


@pytest.mark.parametrize(
    "case,doc_ids",
    [
        # 5 superchunks, ids scattered within each (incl. chunk
        # boundaries 4095/4096 and super boundaries span-1/span)
        (
            "five_supers",
            sorted(
                k * _SUPER_SPAN + off
                for k in range(5)
                for off in (0, 1, 4095, 4096, 8191, 100_000, _SUPER_SPAN - 1)
            ),
        ),
        # sparse: one doc per superchunk far apart (the |supers| array
        # dominates the frame; every chunk window has exactly one row)
        ("sparse_supers", [k * 3 * _SUPER_SPAN + 7 for k in range(9)]),
        # negative ids straddling zero: truncating div widens chunk 0
        # and superchunk 0 but keeps ranges contiguous
        (
            "negative_ids",
            sorted(
                {
                    -2 * _SUPER_SPAN - 5,
                    -_SUPER_SPAN,
                    -8191,
                    -4096,
                    -4095,
                    -1,
                    0,
                    1,
                    4095,
                    4096,
                    _SUPER_SPAN,
                    _SUPER_SPAN + 123,
                }
            ),
        ),
    ],
)
def test_two_level_prefix_sum_matches_naive_window(
    spark, tmp_path, case, doc_ids
):
    sf_dir = _write_docs(tmp_path, doc_ids)
    sdf = q_shard_manifest_tokens(spark, sf_dir)
    odf = run_oracle(SHARD_MANIFEST_SQL, sf_dir)
    problems = compare(sdf, odf)
    assert not problems, f"{case}: {problems}"
    # the fixture must actually exercise >1 superchunk
    n_supers = len({i // _SUPER_SPAN for i in doc_ids})
    assert n_supers > 1, "fixture degenerated to one superchunk"
