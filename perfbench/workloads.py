"""The benchmark's workloads.

Each workload drives the engine only through public entry points and
runs as one closed-loop client: the next operation starts when the
previous one has returned. A workload has

- ``entry``: the engine modules its users import (part of set-up);
- ``generate``: writes the seeded inputs (not part of set-up);
- ``warm``: one operation on a tiny input, the last step of set-up;
- ``passes``: an endless sequence of operation lists, the same order in
  every run (the seed varies only the data); the run measures whole
  passes until its time is up;
- ``run`` / ``check``: one timed operation, and its output check
  (outside the timed section);
- ``probe``: the traced split of the workload into layer calls.

``sales_etl``
    The paper's own job: ``plans.pipeline.run_sales_pipeline`` over a
    folder of daily sales CSVs, writing three BOM CSVs per call.
``corpus_curation``
    The LLM-data operators of ``functions`` (dedup, similarity, search,
    text statistics, curriculum, a streaming ingest) over a fresh corpus
    per pass, so the first operation on a corpus fills the session memo
    and later ones reuse it.
``tpch_analytics``
    Read-only registry queries (TPC-H, window/temporal event queries,
    availableNow streams) over a generated star schema; none goes
    through the session memo or the ``functions`` layer. Runnable, but
    not listed in ``BENCHMARK.json``: one pass of its mix takes ~25 s
    on 4 cores, too long for the run budget.
"""

from __future__ import annotations

import importlib
import itertools
import os
from typing import Iterator

import gen
import oracle
from spans import Recorder

ENGINE = "etl_sales_pandas_sqlserver_spark"
REGISTRY = f"{ENGINE}.plans.testdata_queries"


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _memo_size(mods, spark) -> int:
    return len(mods["cache"]._MEMO.get(spark, {}))


class Workload:
    name = ""
    entry: dict[str, str] = {}

    def __init__(self, work: str, seed: int) -> None:
        self.work = work
        self.seed = seed
        self.mods: dict = {}
        #: output-check mismatches by operation index
        self.problems: dict[int, list[str]] = {}


# ---------------------------------------------------------------------------
# sales_etl
# ---------------------------------------------------------------------------


class SalesEtl(Workload):
    name = "sales_etl"
    entry = {
        "pipeline": f"{ENGINE}.plans.pipeline",
        "sales_etl": f"{ENGINE}.plans.sales_etl",
        "csv_folder": f"{ENGINE}.sources.csv_folder",
        "sinks": f"{ENGINE}.sources.sinks",
        "cache": f"{ENGINE}.cache",
    }
    ROWS = 20_000
    WARM_ROWS = 2_000

    def generate(self) -> None:
        self.folder = os.path.join(self.work, "sales")
        self.rows = gen.write_sales_folder(self.folder, self.seed, self.ROWS)["rows"]
        self.warm_folder = os.path.join(self.work, "sales_warm")
        gen.write_sales_folder(self.warm_folder, self.seed + 1, self.WARM_ROWS)
        self.calls: list[tuple[dict, dict]] = []

    def warm(self, spark) -> None:
        out = os.path.join(self.work, "out_warm")
        self.mods["pipeline"].run_sales_pipeline(spark, self.warm_folder, out)

    def passes(self) -> Iterator[list[str]]:
        while True:
            yield ["run_sales_pipeline"]

    def run(self, spark, op: str, rec: Recorder, op_id: int):
        out = os.path.join(self.work, f"out{len(self.calls)}")
        with rec.span("plans.pipeline", op_id, spark):
            result = self.mods["pipeline"].run_sales_pipeline(spark, self.folder, out)
        self.calls.append((result["outputs"], result["metrics"]))
        return None

    def record(self, op: str, result) -> None:
        pass

    def check(self) -> None:
        expected = oracle.SalesOracle(self.folder)
        for i, (outputs, metrics) in enumerate(self.calls):
            found = expected.check(outputs, metrics)
            if metrics["input"]["rows"] != self.rows:
                found.append(f"input rows {metrics['input']['rows']} != {self.rows}")
            if found:
                self.problems[i] = found

    def probe(self, spark, rec: Recorder, reps: int) -> dict[str, float]:
        """Each layer the pipeline calls, timed on its own: the folder
        scan, the cached raw fill, the three transforms over the cached
        input (noop sink) and the CSV sink."""
        csv_folder, etl, sinks = self.mods["csv_folder"], self.mods["sales_etl"], self.mods["sinks"]
        nbytes = 0
        for rep in range(reps):
            op = rec.next_op()
            with rec.span("sources.read", op, spark):
                _noop(csv_folder.read_sales_folder(spark, self.folder))
            raw = csv_folder.read_sales_folder(spark, self.folder).cache()
            with rec.span("cache.raw_fill", op, spark):
                rows = raw.count()
            stages = {
                "clean_valid_sales": lambda: etl.clean_valid_sales(raw),
                "categorize_invalid_sales": lambda: etl.categorize_invalid_sales(raw),
            }
            built = {}
            for name, build in stages.items():
                with rec.span(f"plans.sales_etl.{name}", op):
                    with rec.span("plans.build", op):
                        built[name] = build()
                    with rec.span("plans.execute", op, spark):
                        _noop(built[name])
            with rec.span("plans.sales_etl.monthly_summary", op):
                with rec.span("plans.build", op):
                    built["monthly_summary"] = etl.monthly_summary(built["clean_valid_sales"])
                with rec.span("plans.execute", op, spark):
                    _noop(built["monthly_summary"])
            for name, df in built.items():
                path = os.path.join(self.work, "probe", f"{name}.csv")
                os.makedirs(os.path.dirname(path), exist_ok=True)
                with rec.span("sources.sinks.write_single_csv", op, spark):
                    sinks.write_single_csv(etl.format_dates_for_sink(df), path, with_bom=True)
                nbytes += os.path.getsize(path)
            raw.unpersist()
        return {"sources.rows": float(rows), "sinks.bytes_written": float(nbytes / reps)}


# ---------------------------------------------------------------------------
# Registry-query workloads
# ---------------------------------------------------------------------------


class _RegistryWorkload(Workload):
    """Ops are registry queries ``QUERIES[name] = (fn, oracle_sql)``; one
    op is the query-function call (plan construction in this process, memo
    builds included) plus fetching its result as Arrow. The fetched
    result is what the check digests."""

    entry = {"registry": REGISTRY, "cache": f"{ENGINE}.cache", "testdata": f"{ENGINE}.sources.testdata"}
    #: the registry module's dict of ``{name: (fn, oracle_sql)}``
    QUERIES_ATTR = "QUERIES"
    TABLES: tuple[str, ...] = ()

    def queries(self) -> dict:
        return getattr(self.mods["registry"], self.QUERIES_ATTR)

    def warm(self, spark) -> None:
        self.queries()[self.WARM_OP][0](spark, self.warm_dir).toArrow()

    def run(self, spark, op: str, rec: Recorder, op_id: int):
        fn, _ = self.queries()[op]
        family = _family(fn)
        memo = (lambda: _memo_size(self.mods, spark)) if rec.enabled else None
        with rec.span(family, op_id, spark, memo):
            with rec.span("plans.build", op_id):
                df = fn(spark, self.data_dir())
            with rec.span("plans.execute", op_id):
                return df.toArrow()

    def record(self, op: str, result) -> None:
        self.results.append((self.data_dir(), op, oracle.digest(result), result.num_rows))

    def check(self) -> None:
        oracles: dict[str, oracle.ParquetOracle] = {}
        queries = self.queries()
        for i, (directory, op, got, rows) in enumerate(self.results):
            if directory not in oracles:
                oracles[directory] = oracle.ParquetOracle(directory, list(self.TABLES))
            want, want_rows = oracles[directory].expected(op, queries[op][1])
            if got != want:
                self.problems[i] = [f"{op} on {os.path.basename(directory)}: "
                                    f"{rows} rows vs oracle {want_rows}, digests differ"]
        for o in oracles.values():
            o.close()

    def probe(self, spark, rec: Recorder, reps: int) -> dict[str, float]:
        """``sources.testdata.load_table`` on its own: the first call per
        table misses the session's schema memo (a fresh directory of hard
        links to the same files), later calls hit it."""
        testdata = self.mods["testdata"]
        rows = 0
        for rep in range(reps):
            fresh = os.path.join(self.work, f"probe{rep}")
            os.makedirs(fresh)
            for t in self.TABLES:
                os.link(os.path.join(self.data_dir(), f"{t}.parquet"),
                        os.path.join(fresh, f"{t}.parquet"))
            op = rec.next_op()
            for t in self.TABLES:
                with rec.span("sources.testdata.load_table_miss", op):
                    testdata.load_table(spark, fresh, t)
                with rec.span("sources.read", op, spark):
                    df = testdata.load_table(spark, fresh, t)
                    _noop(df)
                rows += df.count() if rep == 0 else 0
        return {"sources.rows": float(rows), "sinks.bytes_written": 0.0}


def _family(fn) -> str:
    """Span name of a registry query's layer, from its defining module:
    ``functions.dedup``, ``plans.tpch_more``, ``streaming.queries``..."""
    parts = fn.__module__.split(".")
    return ".".join(parts[-2:])


class TpchAnalytics(_RegistryWorkload):
    name = "tpch_analytics"
    ORDERS = 20_000
    TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings")
    MIX = (
        "tpch_q1_pricing_summary", "tpch_q2_min_cost_supplier", "tpch_q3_top_revenue",
        "tpch_q4_priority_count", "tpch_q5_local_supplier_revenue",
        "tpch_q6_forecast_revenue", "tpch_q7_nation_volume", "tpch_q8_market_share",
        "tpch_q9_product_profit", "tpch_q10_returned_items", "tpch_q11_important_stock",
        "tpch_q12_ship_latency", "tpch_q13_order_count_dist", "tpch_q14_promo_revenue",
        "tpch_q15_top_supplier", "tpch_q16_supplier_cnt", "tpch_q17_small_qty_revenue",
        "tpch_q18_large_volume_customers", "tpch_q19_disjunctive_revenue",
        "tpch_q20_excess_stock", "tpch_q21_waiting_supplier",
        "tpch_q22_sales_opportunity",
        "window_moving_avg_7", "window_distinct_types_1h", "cohort_retention_weekly",
        "asof_join_clicks_purchases", "time_bucket_rollup", "timeseries_gapfill_hourly",
        "stream_hourly_agg", "stream_dedup_keys", "stream_sliding_2h",
    )
    WARM_OP = "tpch_q6_forecast_revenue"

    def generate(self) -> None:
        self.star = os.path.join(self.work, "star")
        gen.write_star_schema(self.star, self.seed, self.ORDERS)
        self.warm_dir = os.path.join(self.work, "star_warm")
        gen.write_star_schema(self.warm_dir, self.seed + 1, 1_000)
        self.results: list = []

    def data_dir(self) -> str:
        return self.star

    def passes(self) -> Iterator[list[str]]:
        while True:
            yield list(self.MIX)


class CorpusCuration(_RegistryWorkload):
    name = "corpus_curation"
    # curators import the functions-family registry, not the full one
    entry = {
        "registry": f"{ENGINE}.functions.registry",
        "cache": f"{ENGINE}.cache",
        "testdata": f"{ENGINE}.sources.testdata",
    }
    QUERIES_ATTR = "FUNCTION_QUERIES"
    DOCS = 1_000
    VECS = 500
    TABLES = ("documents", "embeddings")
    #: the three near-duplicate ops share one memo (the verified pair
    #: list), the ANN and LM-quality ops build one each
    FAMILY = (
        "dedup_minhash_lsh", "dedup_clusters", "graph_pagerank_dup",
        "similarity_topk_ann", "text_lm_quality_rank", "text_bm25_search",
        "text_quality_scores", "curriculum_decile_bounds",
        "stream_dataset_card_ingest",
    )
    WARM_OP = "text_quality_scores"

    def generate(self) -> None:
        self.corpus = ""
        self.warm_dir = os.path.join(self.work, "corpus_warm")
        gen.write_corpus(self.warm_dir, self.seed + 1, 200, 100)
        self.results: list = []

    def data_dir(self) -> str:
        return self.corpus

    def passes(self) -> Iterator[list[str]]:
        for k in itertools.count():
            # written between passes, outside the timed operations
            self.corpus = os.path.join(self.work, f"corpus{k}")
            gen.write_corpus(self.corpus, self.seed * 1000 + k, self.DOCS, self.VECS)
            yield list(self.FAMILY)


WORKLOADS = {w.name: w for w in (SalesEtl, CorpusCuration, TpchAnalytics)}


def import_entry(workload: Workload) -> dict:
    """Import the workload's engine entry modules."""
    return {k: importlib.import_module(m) for k, m in workload.entry.items()}
