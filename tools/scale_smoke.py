"""10x scale smoke for the heavy query families (round-7, verdict #7).

The plans are DESIGNED for linear scaling (banded LSH, deletion-
neighborhood blocking, grid-cell cosine); this measures one 10x point
to prove it and to catch an accidental quadratic candidate blow-up
(band skew, neighborhood collisions) that sf0.1 alone cannot reveal.

Data: the largest driver testdata is sf0.1, so a deterministic 10x
replica set is derived from it once (content-cached under
``.scaledata/x10/``):

- ``documents``: 10 copies, ids shifted by k*10^7; every token in
  replica k>0 gets an ``_k`` suffix, so within-replica shingle
  structure (and thus the near-dup pair/cluster distribution) is
  IDENTICAL to the original while cross-replica shingles are disjoint
  -- the ideal linear-scaling workload: 10x docs => 10x pairs.
- ``embeddings``: ids shifted; replica k>0 gets +0.5*k on the first
  component (distinct cluster sheets; query batch = replica 0).
- ``customer``: keys shifted; names in replica k>0 get a 2-char
  ``kk`` suffix so cross-replica edit distance is >=2 and the
  distance<=1 fuzzy matches stay within-replica (10x names => 10x
  matches).

Each family runs at sf0.1 and at the 10x dir in ONE fresh process,
min-of-2 passes on BOTH legs (r11: the old one-cold-pass x10 leg let a
single stall read as superlinear); ``ratio`` is t_10x / (10 * t_sf01)
-- ~<=1 means linear or better (fixed per-query overhead deflates it),
>1.5 flags superlinear. Emitted row counts per query at both scales are
recorded alongside, so a flagged family shows whether the WORK (rows)
or only the WALL blew up. Prints one JSON line for bench.py to merge
into BENCH_DETAIL.json.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SRC = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
OUT = os.path.join(REPO, ".scaledata", "x10")
SKEW_OUT = os.path.join(REPO, ".scaledata", "x10skew")
REPLICAS = 10
SHIFT = 10_000_000
_GEN_VERSION = "v2"  # bump to force regeneration

FAMILIES: dict[str, list[str]] = {
    "dedup_lsh": ["dedup_minhash_lsh", "dedup_clusters"],
    "dedup_simhash": ["dedup_simhash"],
    "similarity": ["similarity_topk_exact", "similarity_topk_ann"],
    "fuzzy": ["fuzzy_join_customer_names"],
    # round-7 quadratic-risk additions: exact set-similarity joins
    # (candidate blow-up if prefixes/postings skew) and the iterative
    # graph pass (round count and per-round joins)
    "jaccard_exact": [
        "dedup_jaccard_prefix_filter",
        "dedup_containment_pairs",
    ],
    "graph": ["graph_pagerank_dup"],
    # round-10: cross-source pair fan-out risk — per-shingle source
    # sets are collect_set-bounded by |sources|, so 10x docs must cost
    # ~10x, not |pairs|x
    "xsource": ["contamination_matrix_sources"],
    # round-10: the replica token suffixes give the 10x corpus ~10x
    # DISTINCT tokens, so this exercises the token-count agg and the
    # TakeOrdered vocab at 10x vocabulary, not just 10x occurrences
    "batching_oov": ["oov_rate_by_source"],
    # round-11: the bigram-LM band prune (10x docs AND ~10x distinct
    # bigrams from the suffixed replicas — both count aggs and the
    # per-source rank window scale together) and the budgeted-release
    # composite (waterfill + gate + two-phase prefix-sum sharding)
    "lm_prune": ["lm_band_prune_by_source"],
    "release": ["release_shard_manifest"],
    # round-12: the curriculum family shares the LM-score build with
    # lm_prune but adds the global distinct-score stage map (bounded
    # by the ppm domain, so 10x docs must NOT grow the stage-map side)
    "curriculum": ["curriculum_stage_mix"],
    # round-13: stage-homogeneous packing — the LM-score build plus
    # the two-level chunked per-stage prefix sum (10x docs => 10x
    # chunk rows, windows stay <=4096 rows per partition; superlinear
    # here would mean the decomposition degenerated)
    "currpack": ["pack_by_curriculum_stage"],
    # round-13: streaming card ingest — complete-mode agg whose state
    # is one row per source; 10x docs must cost ~10x scan, the state
    # store must not grow with volume
    "stream_card": ["stream_dataset_card_ingest"],
    # round-13: the curation funnel — one corpus pass + the dedup
    # fingerprint window + the decontaminate inverted-index join; 10x
    # docs (and ~10x fingerprint groups / shingle postings from the
    # suffixed replicas) must cost ~10x, with the stage agg fixed at
    # 5 output rows
    "funnel": ["curation_funnel_stages"],
    # round-14: merge apply — the replica token suffixes give the 10x
    # corpus ~10x DISTINCT words, so the K in-row fold passes run over
    # a 10x vocabulary (the quantity that must scale linearly); the
    # merge table stays a bounded 16-row collect at both scales
    "bpe_apply": ["bpe_apply_merges"],
    # round-16: the freshly grain-unified fingerprint pipeline — one
    # scan-side md5 per doc (regexp_replace + lower + trim fused into
    # the projection) feeding the n_copies count window; 10x docs =>
    # 10x fingerprint groups (replica suffixes keep within-replica
    # collision structure identical), the window partitions by
    # fingerprint so state per group is O(group size), never global
    "fingerprint": ["text_fingerprint", "dedup_exact"],
}

#: round-8: hot-key families, run against the SKEWED 10x events
#: replica (one user owns replica 1's 100k events = ~1000x the
#: heaviest organic user). These verify the skew-mitigation plans
#: absorb a hot key without superlinear blow-up, vs the same 10x
#: linear budget the uniform families get.
SKEW_FAMILIES: dict[str, list[str]] = {
    "skew_agg": ["skew_salted_user_counts", "heavy_hitters_users"],
    "skew_window_chunked": ["window_distinct_types_1h_chunked"],
}


def _fingerprint() -> str:
    from etl_sales_pandas_sqlserver_spark.cache import source_tag

    tags = [source_tag(SRC, t) for t in ("documents", "embeddings", "customer", "events")]
    return f"{_GEN_VERSION}:{SRC}:{tags}"


def ensure_data() -> None:
    marker = os.path.join(OUT, ".fingerprint")
    try:
        with open(marker) as fh:
            if fh.read() == _fingerprint():
                return
    except OSError:
        pass
    os.makedirs(OUT, exist_ok=True)
    import duckdb

    con = duckdb.connect()
    con.execute(f"CREATE TABLE reps AS SELECT range AS k FROM range({REPLICAS})")
    con.execute(
        f"""
        COPY (
          SELECT d.doc_id + r.k * {SHIFT} AS doc_id,
                 CASE WHEN r.k = 0 THEN d.text
                      ELSE regexp_replace(d.text, '(\\S+)', '\\1_' || r.k, 'g')
                 END AS text,
                 d.lang, d.source, d.n_chars
          FROM '{SRC}/documents.parquet' d CROSS JOIN reps r
        ) TO '{OUT}/documents.parquet' (FORMAT parquet)
        """
    )
    con.execute(
        f"""
        COPY (
          SELECT e.vec_id + r.k * {SHIFT} AS vec_id,
                 CASE WHEN r.k = 0 THEN e.embedding
                      ELSE list_prepend(e.embedding[1] + 0.5 * r.k,
                                        e.embedding[2:])
                 END::FLOAT[] AS embedding,
                 e.label
          FROM '{SRC}/embeddings.parquet' e CROSS JOIN reps r
        ) TO '{OUT}/embeddings.parquet' (FORMAT parquet)
        """
    )
    con.execute(
        f"""
        COPY (
          SELECT c.c_custkey + r.k * {SHIFT} AS c_custkey,
                 CASE WHEN r.k = 0 THEN c.c_name
                      ELSE c.c_name || r.k || r.k
                 END AS c_name,
                 c.c_nationkey, c.c_acctbal, c.c_mktsegment
          FROM '{SRC}/customer.parquet' c CROSS JOIN reps r
        ) TO '{OUT}/customer.parquet' (FORMAT parquet)
        """
    )
    # skewed 10x events: replicas shift ids; replica 1's user_ids all
    # collapse onto ONE hot user (the min original user), giving it
    # ~100k events vs an organic max of ~99 -- a 1000x hot key.
    # Queries that only read `events` run against SKEW_OUT directly.
    os.makedirs(SKEW_OUT, exist_ok=True)
    con.execute(
        f"""
        COPY (
          SELECT e.event_id + r.k * {SHIFT} AS event_id,
                 e.ts,
                 CASE
                   WHEN r.k = 0 THEN e.user_id
                   WHEN r.k = 1 THEN (SELECT MIN(user_id)
                                      FROM '{SRC}/events.parquet')
                   ELSE e.user_id + r.k * {SHIFT}
                 END AS user_id,
                 e.event_type, e.value, e.props
          FROM '{SRC}/events.parquet' e CROSS JOIN reps r
        ) TO '{SKEW_OUT}/events.parquet' (FORMAT parquet)
        """
    )
    with open(marker, "w") as fh:
        fh.write(_fingerprint())


def main() -> int:
    ensure_data()
    from etl_sales_pandas_sqlserver_spark.session import get_spark

    spark = get_spark(app_name="scale-smoke")
    spark.sparkContext.setLogLevel("ERROR")
    import __spark_entry__ as e

    q = e.queries()
    # JVM/Arrow warmup outside any timed window
    q["dedup_exact"](spark, SRC).collect()

    def run_family(
        names: list[str], sf_dir: str, passes: int = 2
    ) -> tuple[float, dict[str, int]]:
        # min over passes; the memoized pair feed is evicted before
        # each pass so the family cost always includes the feed build.
        # r11 (r10 verdict #1): the x10 leg is ALSO min-of-2 now — the
        # old one-cold-pass x10 over a warm min-of-2 denominator let a
        # single GC/compaction stall read as "superlinear" (driver
        # recorded jaccard_exact at 2.90x where controlled runs saw
        # 1.17x). Emitted row counts are captured from the timed
        # collect()s (free — the rows are already on the driver) so a
        # flagged ratio can be attributed: rows ~10x + wall >15x =
        # measurement noise / shuffle stall; rows >>10x = real
        # candidate blow-up.
        best = float("inf")
        rows: dict[str, int] = {}
        for _ in range(passes):
            spark.catalog.clearCache()
            from etl_sales_pandas_sqlserver_spark import cache

            # evict ALL session memos (pair feed, sales frames) so
            # every pass pays the full family cost
            cache.evict_session_memos(spark)
            t0 = time.perf_counter()
            for name in names:
                rows[name] = len(q[name](spark, sf_dir).collect())
            best = min(best, time.perf_counter() - t0)
        return best, rows

    result: dict[str, dict] = {}
    for fam, names in FAMILIES.items():
        t1, rows1 = run_family(names, SRC)
        t10, rows10 = run_family(names, OUT)
        ratio = round(t10 / (REPLICAS * t1), 3) if t1 > 0 else None
        result[fam] = {
            "t_sf01": round(t1, 3),
            "t_x10": round(t10, 3),
            "ratio_vs_linear": ratio,
            "superlinear": bool(ratio and ratio > 1.5),
            "rows_sf01": rows1,
            "rows_x10": rows10,
            "row_ratio": {
                n: round(rows10[n] / rows1[n], 2) if rows1[n] else None
                for n in names
            },
        }
    # hot-key families: same 10x linear budget, but the 10x data is the
    # SKEWED replica (one ~1000x user), so staying <=1.5 proves the
    # skew paths (two-phase salted count, bounded Misra-Gries exchange,
    # time-chunked window) absorb the hot key, not just more rows.
    for fam, names in SKEW_FAMILIES.items():
        t1, rows1 = run_family(names, SRC)
        t10, rows10 = run_family(names, SKEW_OUT)
        ratio = round(t10 / (REPLICAS * t1), 3) if t1 > 0 else None
        result[fam] = {
            "t_sf01": round(t1, 3),
            "t_x10skew": round(t10, 3),
            "ratio_vs_linear": ratio,
            "superlinear": bool(ratio and ratio > 1.5),
            "rows_sf01": rows1,
            "rows_x10skew": rows10,
        }
    # A/B on the skewed replica: the plain per-key window pins the hot
    # user's 100k-row frame evaluation in ONE task; the chunked twin
    # (salt = time chunk, identical results, shared oracle) spreads it
    # but taxes the cold bulk with span/chunk times more sort groups;
    # the HYBRID (production shape) chunks only keys above a row
    # threshold and runs the cold bulk plain. Recorded so the win --
    # and the single-task cost it removes -- is a measured number, not
    # a design claim.
    t_plain, _ = run_family(["window_distinct_types_1h"], SKEW_OUT, passes=1)
    t_chunk, _ = run_family(
        ["window_distinct_types_1h_chunked"], SKEW_OUT, passes=1
    )

    def q_hybrid_prod(spark_, sf_dir_):
        from pyspark.sql import functions as F

        from etl_sales_pandas_sqlserver_spark.operators.dates import epoch_us
        from etl_sales_pandas_sqlserver_spark.operators.scale import (
            hybrid_lookback_window,
        )
        from etl_sales_pandas_sqlserver_spark.sources.testdata import (
            load_table,
        )

        raw = load_table(spark_, sf_dir_, "events")
        ev = raw.select(
            "event_id", "user_id", "event_type",
            epoch_us(raw, "ts").alias("tsu"),
        )
        return hybrid_lookback_window(
            ev, "user_id", "tsu",
            lambda w: F.size(
                F.array_distinct(F.collect_list("event_type").over(w))
            ).cast("bigint"),
            lookback=3_600_000_000,
            out_col="n_types_1h",
            hot_threshold=10_000,  # production-sized: only the hot user
        )

    t0 = time.perf_counter()
    q_hybrid_prod(spark, SKEW_OUT).collect()
    t_hybrid = time.perf_counter() - t0
    result["skew_window_ab"] = {
        "t_plain_window": round(t_plain, 3),
        "t_chunked_window": round(t_chunk, 3),
        "t_hybrid_window": round(t_hybrid, 3),
        "chunked_speedup": round(t_plain / t_chunk, 2) if t_chunk > 0 else None,
        "hybrid_speedup": round(t_plain / t_hybrid, 2) if t_hybrid > 0 else None,
    }
    print(json.dumps({"scale_smoke": result}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
