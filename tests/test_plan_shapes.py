"""Physical-plan shape regressions: the scale-critical plan properties
the engine is designed around must survive refactors. Each test pins
the property (broadcast, top-k pushdown, filter pushdown, group-limit)
rather than the whole plan string, so harmless plan churn stays green
while a silent de-optimization (e.g. a broadcast degrading to a
sort-merge join of a 5-row dim) fails loudly.
"""

from __future__ import annotations

import pytest

from etl_sales_pandas_sqlserver_spark.plans.testdata_queries import QUERIES


def _physical(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_dim_join_broadcasts(spark, sf_small):
    fn, _ = QUERIES["join_broadcast_region_acctbal"]
    assert "BroadcastHashJoin" in _physical(fn(spark, sf_small))


def test_top10_uses_take_ordered(spark, sf_small):
    # TPC-H Q3's ORDER BY + LIMIT must plan as TakeOrderedAndProject
    # (per-partition top-k, k rows shuffled), never a global sort
    fn, _ = QUERIES["tpch_q3_top_revenue"]
    assert "TakeOrderedAndProject" in _physical(fn(spark, sf_small))


def test_window_topk_group_limit(spark, sf_small):
    # rank<=k window filters must push the limit into the shuffle
    # (WindowGroupLimit), not rank every row then filter
    fn, _ = QUERIES["window_top_orders_per_customer"]
    assert "WindowGroupLimit" in _optimized(fn(spark, sf_small))


def test_q6_filters_reach_scan(spark, sf_small):
    # Q6's date/qty predicates must appear as PushedFilters on the
    # parquet scan, not as a post-scan Filter only
    fn, _ = QUERIES["tpch_q6_forecast_revenue"]
    plan = _physical(fn(spark, sf_small))
    assert "PushedFilters: [" in plan
    pushed = plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert pushed.strip(), "expected non-empty pushed filters on the scan"


def test_recall_contract_broadcasts_exact_pairs(spark, sf_small):
    # the n_queries*k exact pair set must broadcast to the tagged ANN
    # union, never shuffle the union for a sort-merge join
    fn, _ = QUERIES["similarity_ann_recall_contract"]
    assert "BroadcastHashJoin" in _physical(fn(spark, sf_small))


def test_sketch_daily_prunes_columns(spark, sf_small):
    # the sketch build must read only (ts, user_id, event_type) from
    # the 6-column events table
    fn, _ = QUERIES["sketch_daily_distinct_users"]
    plan = _physical(fn(spark, sf_small))
    assert "ReadSchema" in plan
    read = plan.split("ReadSchema:", 1)[1].splitlines()[0]
    assert "props" not in read and "value" not in read, read


def test_percentile_contract_broadcasts_sketch(spark, sf_small):
    # pass 2 joins the per-segment sketch values (|segments| rows)
    # back to facts -- must broadcast, not shuffle the fact table
    fn, _ = QUERIES["percentiles_approx_contract"]
    assert "BroadcastHashJoin" in _physical(fn(spark, sf_small))


def test_simhash_self_join_reuses_sig_exchange(spark, sf_small):
    # the band self-join's two branches are identical subplans; the
    # signature aggregate's shuffle must materialize ONCE and be read
    # twice (ReusedExchange) -- q_simhash_pairs dropped its explicit
    # .cache() on the strength of this property
    fn, _ = QUERIES["dedup_simhash"]
    df = fn(spark, sf_small)
    df.collect()  # AQE: reuse is only visible in the final plan
    assert "ReusedExchange" in _physical(df)


def test_bloom_decontaminate_train_side_never_merge_joins(spark, sf_small):
    # the train corpus must stream through broadcast probe joins only;
    # a SortMergeJoin here means train shingles are shuffling -- the
    # exact cost the bloom path exists to avoid at 100 TB
    fn, _ = QUERIES["dedup_decontaminate_bloom"]
    plan = _physical(fn(spark, sf_small))
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 3


def test_source_quota_uses_window_group_limit(spark, sf_small):
    # the per-source cap must plan as WindowGroupLimit (per-partition
    # top-k before the shuffle); ranking every row then filtering
    # would shuffle the whole corpus to cap it
    fn, _ = QUERIES["source_quota_cap"]
    assert "WindowGroupLimit" in _optimized(fn(spark, sf_small))


def test_weighted_priority_sample_uses_window_group_limit(spark, sf_small):
    # per-stratum top-k must prune per-partition BEFORE the exchange;
    # ranking the whole corpus to keep 5 rows per lang would shuffle
    # everything to cap it
    fn, _ = QUERIES["sample_weighted_priority"]
    assert "WindowGroupLimit" in _optimized(fn(spark, sf_small))


def test_curation_dedup_uses_window_group_limit(spark, sf_small):
    # the keep-first dedup stage must shuffle only per-partition
    # winners (WindowGroupLimit), not sort the whole corpus by
    # fingerprint
    fn, _ = QUERIES["corpus_curation_pipeline"]
    assert "WindowGroupLimit" in _optimized(fn(spark, sf_small))


def test_chunked_window_partitions_by_key_and_chunk(spark, sf_small):
    """The hot-key-safe window twin must exchange on (user_id, _ck) --
    the time chunk IS the salt, so a partitioning on user_id alone
    would re-concentrate a hot user in one task and defeat the
    operator's whole purpose."""
    import re

    fn, _ = QUERIES["window_distinct_types_1h_chunked"]
    plan = _physical(fn(spark, sf_small))
    assert re.search(
        r"hashpartitioning\(user_id[^)]*_ck", plan
    ), "window exchange lost the chunk component of the partition key"


def test_kmeans_assignment_is_map_only(spark, sf_small):
    """The k-means assignment pass must be MAP-ONLY: the K x DIM
    centroid table is driver state folded into the scan as literal
    expressions, so the per-row argmin involves no join and no
    exchange. A join-based assignment would shuffle the corpus once
    per Lloyd iteration -- the exact cost the design avoids at scale."""
    from etl_sales_pandas_sqlserver_spark.functions.kmeans import (
        _K,
        _quantized,
        _with_assignment,
    )

    q = _quantized(spark, sf_small)
    cents = [list(r.e) for r in q.orderBy("vec_id").limit(_K).collect()]
    plan = _physical(_with_assignment(q, cents))
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan


def test_partition_pruned_scan_filters_at_planning_time(spark, sf_small):
    """The hive-partitioned events scan must resolve the 3-day
    predicate in PartitionFilters (directories never listed), not as a
    post-scan row filter -- at 100 TB that is the difference between
    reading 3 partitions and reading all of them."""
    import re

    fn, _ = QUERIES["partition_pruned_day_load"]
    plan = _physical(fn(spark, sf_small))
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m, "scan lost its PartitionFilters"
    assert "event_date" in m.group(1) and ">=" in m.group(1), m.group(1)


def test_bucketed_join_has_no_key_exchange(spark, sf_small):
    """The bucketed orders|x|lineitem join must read bucket-aligned
    scans: a SortMergeJoin with NO shuffle exchange on either join key
    (the write-once bucket layout replaces the per-query shuffle --
    the decisive recurring cost of fact-fact joins at 100 TB)."""
    import re

    fn, _ = QUERIES["bucketed_join_order_revenue"]
    plan = _physical(fn(spark, sf_small))
    assert "SortMergeJoin" in plan
    assert not re.search(
        r"Exchange hashpartitioning\((o_orderkey|l_orderkey)", plan
    ), "join key exchange reappeared -- bucketing is not being used"


@pytest.mark.parametrize(
    "name,n_scalar,carry",
    [
        ("training_order_global_index", 0, ["doc_id"]),
        ("decile_stats_order_price", 1, ["o_totalprice"]),
    ],
    ids=["training_order_global_index", "decile_stats_order_price"],
)
def test_training_order_avoids_global_single_partition(
    spark, sf_small, name, n_scalar, carry
):
    """A global row index must stay distributed: the Arrow-batched
    two-pass numbering (MapInPandas + broadcast offsets), never a
    whole-table ROW_NUMBER or ntile window funneled through one task.
    The single-partition funnels allowed carry |partitions| rows: the
    offsets window, sitting directly on the per-partition count
    aggregate, and a scalar total over partial sums of those counts
    (the decile closed form's N). The numbering kernel is fed only the
    carried columns and the partition offset: no sort key or partition
    id is serialized to Python."""
    import re

    fn, _ = QUERIES[name]
    plan = _physical(fn(spark, sf_small))
    kernel = re.search(r"MapInPandas number_rows\(([^)]*)\)", plan)
    assert kernel, "numbering kernel missing"
    fed = [re.sub(r"#\d+L?$", "", a.strip()) for a in kernel.group(1).split(",")]
    assert fed == carry + ["off"], fed
    lines = plan.splitlines()
    funnels = [i for i, ln in enumerate(lines) if "Exchange SinglePartition" in ln]
    # child printed right below the exchange
    on_counts = [i for i in funnels if "HashAggregate(keys=[pid" in lines[i + 1]]
    assert len(on_counts) == 1, "offsets window is not on the count agg"
    others = [i for i in funnels if i not in on_counts]
    assert len(others) <= n_scalar, "extra global funnel appeared"
    for i in others:
        child = lines[i + 1]
        assert "HashAggregate(keys=[]" in child and "partial_" in child, child


#: queries whose plans legitimately contain BroadcastNestedLoopJoin:
#: every one is a cross join against a SINGLE-ROW scalar aggregate
#: (corpus count, grand total, supplier count...) -- a broadcast of one
#: row, not a data-sized nested loop. The test below additionally
#: requires the scalar-agg shape to actually be present in those plans.
_SCALAR_CROSS_JOIN_OK = {
    # round-7 additions: single-row corpus stats / total builds
    "text_bm25_search",       # 1-row (n_docs, total_tokens) + 1-row dfs
    "heavy_hitters_users",    # 1-row total-count threshold
    "decile_stats_order_price",  # 1-row N for the ntile closed form
    "funnel_view_click_purchase",
    "similarity_ann_recall_contract",
    "text_docfreq_quality",
    # round-11: the global dataset card assembles three single-row
    # side frames (corpus volume, lang-Gini, histogram quantiles)
    "dataset_card_global",
    "token_salience",
    "tpch_q11_important_stock",
    "tpch_q16_supplier_cnt",
    "tpch_q20_excess_stock",
    "tpch_q22_sales_opportunity",
    "tpch_q2_min_cost_supplier",
    "tpch_q9_product_profit",
    # round-8: 1-row target/raw bigram grand totals feeding the
    # 64-row ratio table
    "importance_weights_ngram",
}


def test_no_query_plans_a_scale_killer_join(spark, sf_small):
    """Global audit across the ENTIRE registry: no CartesianProduct
    anywhere, and BroadcastNestedLoopJoin only in the whitelisted
    queries whose build side is a single-row scalar aggregate (the
    plan must actually contain an ungrouped HashAggregate feeding it).
    This is the 100 TB gate: any new query that accidentally plans an
    all-pairs join fails here before it ever reaches the driver."""
    offenders = {}
    for name, (fn, _sql) in QUERIES.items():
        plan = _physical(fn(spark, sf_small))
        spark.catalog.clearCache()
        if "CartesianProduct" in plan:
            offenders[name] = "CartesianProduct"
            continue
        n_bnlj = plan.count("BroadcastNestedLoopJoin")
        if not n_bnlj:
            continue
        if name not in _SCALAR_CROSS_JOIN_OK:
            offenders[name] = f"unexpected BNLJ x{n_bnlj}"
        elif "HashAggregate(keys=[]" not in plan:
            offenders[name] = "BNLJ without a scalar-aggregate build"
    assert not offenders, offenders


# ---------------------------------------------------------------------------
# Round-7 broadcast-hint audit (verdict #3). A forced F.broadcast() on a
# table that grows with the corpus overrides AQE's size-based choice and
# becomes an OOM at 100x (the round-6 fuzzy join broadcast the full
# customer name table). Audit outcome: hints are allowed ONLY on
#   - fixed-size dimensions (region=5 rows, nation=25 rows, and their
#     n1/n2 renames),
#   - provably bounded intermediates (single-row scalar aggregates,
#     per-segment stats over a fixed segment domain, per-partition
#     offset tables, the <=64 KiB bloom bitmap, the capped ANN
#     query-batch pairs).
# Everything corpus-sized (supplier, part, customer, filtered-orders
# sets, candidate-pair name lookups) had its hint REMOVED in round 7 --
# the planner still broadcasts those while small, and falls back to a
# shuffle join at scale instead of dying on the hint.
# This test enforces the audit: any new F.broadcast(<name>) site must be
# added to the allowlist below WITH a boundedness argument in review.
# ---------------------------------------------------------------------------

# file-relative-path -> variable names whose broadcast is audited
# bounded IN THAT FILE. Namespacing by file (round-8 advice) stops a
# generic name like `total` or `exact` in a NEW file from inheriting
# another file's boundedness argument.
_BROADCAST_ALLOWED: dict[str, set[str]] = {
    # fixed-size dims (region=5 rows, nation=25 rows, n1/n2 renames)
    "plans/tpch_partsupp.py": {"nation", "region", "total"},
    "plans/analytics_queries.py": {"nation", "region"},
    "plans/window_queries.py": {
        "nation",
        "total",    # single-row N for the ntile closed form
    },
    "plans/tpch_more.py": {"nation"},
    "plans/advanced_queries.py": {
        "nation", "region",
        "stats",    # one row per mktsegment (fixed 5-value domain)
        "targets",  # one row per (mktsegment, bucket), bucket domain fixed
        "sketch",   # one percentile sketch row per mktsegment
    },
    "plans/tpch_suite2.py": {
        "nation", "region", "n1", "n2",
        "top",      # LIMIT-bounded top fraction for Q15-style rank
        "avg_bal",  # single-row scalar aggregate
    },
    "streaming/queries.py": {"nation"},
    "sources/maintenance.py": {"stats"},   # 1-row min/max per z column
    "operators/scale.py": {
        # keys above an absolute row threshold: <= |rows|/threshold rows
        "hot_keys",
        "offsets",  # one row per range partition (argument-bounded)
    },
    "sources/testdata.py": {"scnt"},       # single-row supplier count
    "functions/textstats.py": {"n_docs"},  # single-row corpus count
    "functions/traindata.py": {
        "n",        # single-row grand total
        "totals",   # single-row target/raw bigram grand totals
        "ratios",   # one row per hash bucket (fixed 64-value domain)
    },
    "functions/search.py": {
        "stats",    # single-row corpus stats
        "df_row",   # single row of per-query-term document frequencies
        "total",    # single-row total count
    },
    "functions/similarity.py": {
        "exact",       # exact top-k pairs for the capped 8-query ANN batch
        "n_exact_df",  # single-row denominator
    },
    "functions/sketches.py": {
        "est_df",   # |event_types| x 8 probe rows from the CMS contract
        "totals",   # one row per event type (fixed small domain)
    },
}


def test_broadcast_hints_only_on_bounded_builds():
    import ast
    import pathlib

    import etl_sales_pandas_sqlserver_spark as pkg

    root = pathlib.Path(pkg.__file__).parent
    violations = []
    for path in sorted(root.rglob("*.py")):
        src = path.read_text()
        lines = src.splitlines()
        rel = path.relative_to(root).as_posix()
        allowed = _BROADCAST_ALLOWED.get(rel, set())
        for node in ast.walk(ast.parse(src)):
            if not (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "broadcast"
                and isinstance(node.func.value, ast.Name)
                and node.func.value.id == "F"
            ):
                continue
            arg = node.args[0]
            if isinstance(arg, ast.Name) and arg.id in allowed:
                continue
            # a non-name build side (inline select/agg expression) is
            # only exempt when the call line carries an explicit
            # boundedness annotation (round-8 advice: the old blanket
            # Call exemption let F.broadcast(load_table(...)) through)
            if "# broadcast-ok:" in lines[node.lineno - 1]:
                continue
            what = arg.id if isinstance(arg, ast.Name) else "<expr>"
            violations.append(f"{rel}:{node.lineno} F.broadcast({what})")
    assert not violations, (
        "unaudited F.broadcast hint(s) -- prove the build side is bounded, "
        "then extend _BROADCAST_ALLOWED for that file (named frames) or "
        f"annotate the line with '# broadcast-ok: <reason>': {violations}"
    )


def test_heavy_hitters_counts_only_candidates(spark, sf_small):
    """The exact recount must run AFTER the Misra-Gries candidate
    semi-join -- a full-universe groupBy before the semi-join would be
    the naive shuffle the two-pass design exists to avoid. Pin: the
    user_id-keyed aggregate's subtree contains the LeftSemi join (plan
    prints children below parents, so the semi-join text must appear
    AFTER the first keyed aggregate line)."""
    fn, _ = QUERIES["heavy_hitters_users"]
    plan = _physical(fn(spark, sf_small))
    assert "LeftSemi" in plan
    keyed = plan.find("HashAggregate(keys=[user_id")
    semi = plan.find("LeftSemi")
    assert keyed != -1 and semi > keyed, (
        "exact count aggregate is not downstream of the candidate "
        "semi-join"
    )


def _assert_no_window_funnel(plan: str) -> None:
    """Every Exchange SinglePartition in ``plan`` must sit directly on
    a PROVABLY BOUNDED frame: a keys-[] aggregate (the |supers|-array
    collect or a scalar total) or the keys-[source] aggregate (the
    |sources|-row water-fill frame from functions/budget.py). In
    particular the old chunk-offset funnel — a single-partition window
    over the UNBOUNDED keys-[chunk] frame — fails this (keys=[chunk]
    grows with the doc-id range; keys=[source] does not)."""
    lines = plan.splitlines()
    for i, ln in enumerate(lines):
        if "Exchange SinglePartition" not in ln:
            continue
        child = lines[i + 1]
        bounded = (
            "HashAggregate(keys=[]" in child
            or "ObjectHashAggregate(keys=[]" in child
            or "SortAggregate(key=[]" in child
            or "HashAggregate(keys=[source#" in child
        )
        assert bounded, (
            f"unbounded single-partition funnel: {child.strip()[:120]}"
        )


def test_shard_prefix_sum_has_no_single_partition_window(spark, sf_small):
    """The two-level chunked prefix sum (functions/sharding.py) must
    plan ZERO single-partition windows: the within-chunk and
    within-super windows are key-partitioned, and the only global
    funnel is the bounded |supers|-array collect aggregate. Guards the
    r11->r12 rewrite that removed the last unbounded-at-extreme-scale
    window from a registered plan."""
    for name in ("shard_manifest_tokens", "release_shard_manifest"):
        fn, _ = QUERIES[name]
        plan = _physical(fn(spark, sf_small))
        assert "Window [" in plan, f"{name}: expected chunk windows"
        _assert_no_window_funnel(plan)
