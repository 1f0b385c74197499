"""bpe_apply_merges semantics pins: the crafted corpus makes the merge
table and every tokenization hand-computable, so the three behaviors
the driver hash-compare can't isolate from stock testdata are pinned
directly:

- GREEDY LEFT-TO-RIGHT NON-OVERLAPPING within one pass ("aaa" under
  rule "aa" -> [aa, a]; "aaaa" -> [aa, aa]);
- RANK PRIORITY between rules (in "abc", the higher-ranked "ab"
  consumes the b, so "bc" can never apply — count DESC, pair ASC);
- the per-source arithmetic (tokens + merge hits telescope:
  n_merge_hits == n_chars - n_tokens).

The oracle (positional run-parity spelling) is run on the SAME corpus
so the fold-vs-comprehension equivalence is exercised exactly where
chains and priorities actually fire, not just on organic text.
"""

from __future__ import annotations

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest


@pytest.fixture(scope="module")
def merge_corpus(tmp_path_factory) -> str:
    """Words: 'aaa' x5, 'aaaa' x2, 'abc' x3 across two sources.
    Pair counts: aa = 5*2 + 2*3 = 16, ab = 3, bc = 3
    -> merge table (count DESC, pair ASC): [aa, ab, bc].
    Tokenizations: aaa -> [aa, a]; aaaa -> [aa, aa]; abc -> [ab, c]."""
    docs = [
        (1, "aaa aaa aaaa abc", "s1"),
        (2, "aaa aaa abc", "s1"),
        (3, "aaa aaaa abc", "s2"),
    ]
    tbl = pa.table(
        {
            "doc_id": pa.array([i for i, _, _ in docs], pa.int64()),
            "text": pa.array([t for _, t, _ in docs], pa.string()),
            "lang": pa.array(["en"] * len(docs), pa.string()),
            "source": pa.array([s for _, _, s in docs], pa.string()),
            "n_chars": pa.array([len(t) for _, t, _ in docs], pa.int64()),
        }
    )
    d = tmp_path_factory.mktemp("merge_corpus")
    pq.write_table(tbl, str(d / "documents.parquet"))
    return str(d)


def test_greedy_chain_and_rank_priority(spark, merge_corpus):
    from etl_sales_pandas_sqlserver_spark.functions.bpe import (
        q_bpe_apply_merges,
    )

    got = {
        r.source: r for r in q_bpe_apply_merges(spark, merge_corpus).collect()
    }
    # s1: words aaa x4, aaaa x1, abc x2
    #   chars = 4*3 + 4 + 2*3 = 22; tokens = 4*2 + 2 + 2*2 = 14
    assert (got["s1"].n_words, got["s1"].n_chars) == (7, 22)
    assert (got["s1"].n_tokens, got["s1"].n_merge_hits) == (14, 8)
    # s2: words aaa x1, aaaa x1, abc x1
    #   chars = 3 + 4 + 3 = 10; tokens = 2 + 2 + 2 = 6
    assert (got["s2"].n_words, got["s2"].n_chars) == (3, 10)
    assert (got["s2"].n_tokens, got["s2"].n_merge_hits) == (6, 4)
    for r in got.values():
        assert r.n_merge_hits == r.n_chars - r.n_tokens


def test_oracle_agrees_where_chains_fire(spark, merge_corpus):
    from etl_sales_pandas_sqlserver_spark.functions.bpe import (
        BPE_APPLY_MERGES_SQL,
        q_bpe_apply_merges,
    )

    sdf = q_bpe_apply_merges(spark, merge_corpus).toPandas()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS "
        f"SELECT * FROM '{merge_corpus}/documents.parquet'"
    )
    odf = con.execute(BPE_APPLY_MERGES_SQL).df()
    assert sorted(map(tuple, sdf.values.tolist())) == sorted(
        map(tuple, odf.values.tolist())
    )


def test_merge_table_is_bounded_and_rank_ordered(spark, merge_corpus):
    """The driver-side collect must stay <= _APPLY_K rows (the
    kmeans-centroid bound) and the fold must run in (count DESC,
    pair ASC) order — a tiny corpus yields its FULL distinct-pair
    list, rank-ordered."""
    from etl_sales_pandas_sqlserver_spark.functions.bpe import (
        _APPLY_K,
        q_bpe_top_pairs,
    )
    from pyspark.sql import functions as F

    rows = (
        q_bpe_top_pairs(spark, merge_corpus)
        .orderBy(F.col("n").desc(), F.col("pair"))
        .limit(_APPLY_K)
        .collect()
    )
    assert len(rows) <= _APPLY_K
    assert [(r.pair, r.n) for r in rows] == [("aa", 16), ("ab", 3), ("bc", 3)]


def _py_one_pass(toks: list, pair: str) -> list:
    """Pure-Python greedy left-to-right non-overlapping single pass —
    the reference the staged fixture was hand-computed against."""
    out: list = []
    i = 0
    while i < len(toks):
        if i + 1 < len(toks) and toks[i] + toks[i + 1] == pair:
            out.append(pair)
            i += 2
        else:
            out.append(toks[i])
            i += 1
    return out


def test_oracle_positional_pass_matches_python_greedy_reference():
    """Property pin for the oracle's run-parity positional spelling of
    one merge pass: on randomized token lists over a tiny alphabet
    (maximizing chains and overlaps) it must equal the sequential
    greedy fold. hypothesis drives DuckDB directly — no Spark in the
    loop; the driver hash-compare ties Spark's fold to this oracle."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    con = duckdb.connect()
    one_pass_sql = """
      WITH base AS (
        SELECT ? AS t, ? AS p
      ),
      m AS (
        SELECT t, p,
               [CASE WHEN i < len(t) AND t[i] || t[i+1] = p
                     THEN true ELSE false END
                for i in range(1, len(t)+1)] AS mt
        FROM base
      ),
      s AS (
        SELECT t, p,
               [mt[i] AND ((i - list_max(
                   [j for j in range(0, i) if j = 0 OR NOT mt[j]])) % 2 = 1)
                for i in range(1, len(t)+1)] AS sel
        FROM m
      )
      SELECT [CASE WHEN sel[i] THEN p ELSE t[i] END
              for i in range(1, len(t)+1)
              if i = 1 OR NOT sel[i-1]]
      FROM s
    """

    @settings(max_examples=300, deadline=None)
    @given(
        st.lists(st.sampled_from(list("ab")), min_size=0, max_size=12),
        st.sampled_from(["aa", "ab", "ba", "bb"]),
    )
    def check(toks, pair):
        got = con.execute(one_pass_sql, [toks, pair]).fetchone()[0]
        assert list(got) == _py_one_pass(toks, pair), (toks, pair)

    check()
    con.close()


def test_spark_pass_matches_python_greedy_reference(spark):
    """The Spark-side sentinel-string replace pass (r17: the linear
    rewrite of the F.aggregate fold) on the same adversarial shapes
    (chain runs, overlaps, empty, no-match) — one batched DataFrame,
    direct comparison against the Python reference per row. Tokens
    are sentinel-encoded/decoded around the pass, so the test pins
    the pass semantics at the TOKEN level, independent of encoding."""
    import itertools

    from pyspark.sql import functions as F

    from etl_sales_pandas_sqlserver_spark.functions.bpe import (
        _S1,
        _S2,
        _one_merge_pass,
    )

    def encode(toks: list) -> str:
        return "".join(_S1 + t + _S2 for t in toks)

    def decode(s: str) -> list:
        return [piece[:-1] for piece in s.split(_S1)[1:]]

    toks_cases = [
        list(t)
        for n in range(0, 7)
        for t in itertools.product("ab", repeat=n)
    ]
    for pair in ["aa", "ab", "ba"]:
        df = spark.createDataFrame(
            [(i, encode(t)) for i, t in enumerate(toks_cases)],
            "i long, s string",
        )
        got = {
            r.i: decode(r.m)
            for r in df.select(
                "i", _one_merge_pass(F.col("s"), pair).alias("m")
            ).collect()
        }
        for i, t in enumerate(toks_cases):
            assert got[i] == _py_one_pass(t, pair), (t, pair)


def test_detokenize_byte_identity_over_real_vocab(spark, merge_corpus):
    """Detokenization witness for the r17 linear merge rewrite:
    stripping the sentinels from the fully-merged encoding must
    reproduce every word byte-for-byte — merges may only regroup
    characters, never alter them. Runs over the staged corpus AND the
    real sf0.001 document vocabulary with that corpus' own top-K merge
    table, so the witness covers organic text, not just crafted words.
    (A candidate for a registered ``bpe_detokenize_check`` query with
    per-source compression ratios; the registry is not growing now.)"""
    from pyspark.sql import functions as F

    from etl_sales_pandas_sqlserver_spark.functions.bpe import (
        _APPLY_K,
        _S1,
        _S2,
        _one_merge_pass,
        _wrap_chars,
        q_bpe_top_pairs,
    )
    from etl_sales_pandas_sqlserver_spark.functions.tokcount import (
        WS_CLASS,
    )
    from etl_sales_pandas_sqlserver_spark.sources.testdata import (
        load_table,
    )

    for sf_dir in (merge_corpus, "/root/testdata/sf0.001"):
        rows = (
            q_bpe_top_pairs(spark, sf_dir)
            .orderBy(F.col("n").desc(), F.col("pair"))
            .limit(_APPLY_K)
            .collect()
        )
        merges = [
            r["pair"]
            for r in sorted(rows, key=lambda r: (-r["n"], r["pair"]))
        ]
        vocab = (
            load_table(spark, sf_dir, "documents")
            .select(
                F.explode(
                    F.split(F.trim(F.lower(F.col("text"))), WS_CLASS)
                ).alias("w")
            )
            .filter(F.length("w") >= 1)
            .distinct()
        )
        s = _wrap_chars(F.col("w"))
        for pair in merges:
            s = _one_merge_pass(s, pair)
        detok = F.replace(
            F.replace(s, F.lit(_S1), F.lit("")), F.lit(_S2), F.lit("")
        )
        n_bad = vocab.filter(detok != F.col("w")).count()
        assert n_bad == 0, f"{sf_dir}: {n_bad} words not byte-identical"


def test_wrap_chars_guard_raises_on_sentinel_bytes(spark):
    """A raw word containing U+0001/U+0002 must raise the loud guard,
    never silently corrupt the token encoding; clean words (including
    U+2028/U+2029 line separators, which Java '.' skips without (?s))
    encode one token per character."""
    from pyspark.sql import functions as F

    from etl_sales_pandas_sqlserver_spark.functions.bpe import (
        _token_count,
        _wrap_chars,
    )

    clean = spark.createDataFrame(
        [("abc",), ("a b c",), ("x",)], "w string"
    )
    got = clean.select(
        "w", _token_count(_wrap_chars(F.col("w"))).alias("n")
    ).collect()
    assert {r.w: r.n for r in got} == {
        "abc": 3,
        "a b c": 5,
        "x": 1,
    }
    for bad in ("a\x01b", "a\x02b"):
        dirty = spark.createDataFrame([(bad,)], "w string")
        with pytest.raises(Exception, match="bpe sentinel guard"):
            dirty.select(_wrap_chars(F.col("w")).alias("s")).collect()
