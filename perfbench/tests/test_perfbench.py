"""Tests of the benchmark itself: input determinism, the trace recorder,
the output digests and oracles, and a tiny run of each workload.

    python3 -m pytest perfbench/tests -q

The workload smokes start a Spark JVM each (about a minute apiece on 4
cores); ``-m "not spark"`` skips them.
"""

from __future__ import annotations

import csv
import datetime as dt
import decimal
import filecmp
import itertools
import os
import random
import time

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import gen
import oracle
import run as bench
import workloads
from spans import Recorder


def _tree_equal(a: str, b: str) -> bool:
    names = sorted(os.listdir(a))
    if names != sorted(os.listdir(b)):
        return False
    return all(filecmp.cmp(os.path.join(a, n), os.path.join(b, n), shallow=False) for n in names)


# ---------------------------------------------------------------------------
# generators
# ---------------------------------------------------------------------------


def test_sales_folder_same_seed_same_bytes(tmp_path):
    gen.write_sales_folder(str(tmp_path / "a"), 7, 3_000)
    gen.write_sales_folder(str(tmp_path / "b"), 7, 3_000)
    gen.write_sales_folder(str(tmp_path / "c"), 8, 3_000)
    assert _tree_equal(str(tmp_path / "a"), str(tmp_path / "b"))
    assert not _tree_equal(str(tmp_path / "a"), str(tmp_path / "c"))


def _sales_rows(folder: str) -> list[dict]:
    rows = []
    for name in sorted(os.listdir(folder)):
        with open(os.path.join(folder, name), encoding="utf-8", newline="") as fh:
            for r in csv.DictReader(fh):
                r["Audit_Date"] = name[:-4] if name != gen.NOTES_FILE else None
                rows.append(r)
    return rows


def test_sales_folder_covers_row_classes_and_fixes_keep_first(tmp_path):
    folder = str(tmp_path / "s")
    info = gen.write_sales_folder(folder, 3, 5_000)
    rows = _sales_rows(folder)
    assert info == {"rows": len(rows), "files": 41}
    assert any(r["Audit_Date"] is None for r in rows)  # non-date filename
    assert any(r["Amount"] == "" for r in rows)
    assert any(r["Date"] == "" for r in rows)
    assert any(r["Date"] == "not-a-date" or "/" in r["Date"] or "-13-" in r["Date"] for r in rows)
    assert any(r["Product"] == "" for r in rows)
    assert any(r["Sale_ID"] == "" for r in rows)
    assert any(r["Sale_ID"] and r["Sale_ID"] != r["Sale_ID"].upper() for r in rows)
    assert any(r["Product"] != r["Product"].strip() for r in rows)
    assert any(r["Amount"] and not r["Amount"].endswith(("USD", "EUR")) for r in rows)
    assert any(r["Amount"].endswith("EUR") and int(r["Amount"].split()[0].replace(".", "")) % 20 == 10
               for r in rows)
    # keep-first order is (Audit_Date, Date): within a Sale_ID group,
    # rows that differ must differ on it, or the valid output would
    # depend on scan order
    groups: dict[str, list[dict]] = {}
    for r in rows:
        if r["Sale_ID"]:
            groups.setdefault(r["Sale_ID"].upper(), []).append(r)
    dups = [g for g in groups.values() if len(g) > 1]
    assert dups
    for g in dups:
        distinct = {tuple(sorted(r.items())) for r in g}
        keys = {(r["Audit_Date"], r["Date"]) for r in g}
        assert len(distinct) == 1 or len(keys) == len(g)


def test_parquet_generators_are_deterministic(tmp_path):
    for d in ("a", "b"):
        gen.write_corpus(str(tmp_path / d / "corpus"), 5, 300, 100)
        gen.write_star_schema(str(tmp_path / d / "star"), 5, 1_500)
    for sub in ("corpus", "star"):
        for name in os.listdir(tmp_path / "a" / sub):
            ta = pq.read_table(tmp_path / "a" / sub / name)
            tb = pq.read_table(tmp_path / "b" / sub / name)
            assert ta.equals(tb), name


# ---------------------------------------------------------------------------
# recorder
# ---------------------------------------------------------------------------


def test_recorder_self_time_subtracts_children():
    rec = Recorder(True)
    memo = [0]
    with rec.span("outer", op=1, memo=lambda: memo[0]):
        time.sleep(0.02)
        with rec.span("inner", op=1):
            time.sleep(0.05)
        memo[0] += 2
    (outer,) = [s for s in rec.spans if s.name == "outer"]
    (inner,) = [s for s in rec.spans if s.name == "inner"]
    assert inner.parent == rec.spans.index(outer)
    assert outer.counts == {"memo_builds": 2}
    self_s = rec.self_times()
    assert self_s["inner"] == pytest.approx(inner.end - inner.start)
    assert self_s["outer"] == pytest.approx((outer.end - outer.start) - (inner.end - inner.start))
    assert 0.015 < self_s["outer"] < 0.045
    assert rec.overhead_s >= 0


def test_disabled_recorder_records_nothing():
    rec = Recorder(False)
    with rec.span("x", op=rec.next_op(), memo=lambda: 1 / 0) as s:
        assert s is None
    assert rec.spans == [] and rec.overhead_s == 0


def test_tail_needs_ten_samples_beyond():
    assert bench._tail([1.0] * 19) is None
    t = bench._tail([float(i) for i in range(100)])
    assert t["percentile"] == 90 and t["samples"] == 100


# ---------------------------------------------------------------------------
# digests and oracles
# ---------------------------------------------------------------------------


def test_digest_ignores_order_case_and_engine_types():
    spark_like = pa.table({
        "B": [2.0, 1.5],
        "a": pa.array([decimal.Decimal("3"), decimal.Decimal("1.25")], pa.decimal128(10, 2)),
        "ts": pa.array([dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc), None],
                       pa.timestamp("us", tz="UTC")),
    })
    duck_like = pa.table({
        "a": [1.25, 3.0],
        "ts": pa.array([None, dt.datetime(2024, 1, 1)], pa.timestamp("us")),
        "b": pa.array([1.5, 2], pa.float64()),
    })
    assert oracle.digest(spark_like) == oracle.digest(duck_like)
    changed = duck_like.set_column(2, "b", pa.array([1.5, 2.0000001]))
    assert oracle.digest(spark_like) != oracle.digest(changed)


def test_near_dup_pairs_match_all_pairs():
    rng = random.Random(0)
    words = "a b c d e f g".split()
    docs = []
    for i in range(120):
        if i % 4 == 3:
            docs.append((i, docs[rng.randrange(i)][1] + " z"))
        else:
            docs.append((i, " ".join(rng.choice(words) for _ in range(rng.randint(3, 40)))))
    brute = []
    for (a, ta), (b, tb) in itertools.combinations(docs, 2):
        sa, sb = oracle._shingles(ta), oracle._shingles(tb)
        common = len(sa & sb)
        union = len(sa) + len(sb) - common
        if union and common / union >= oracle.JACCARD_THRESHOLD:
            brute.append((a, b, common / union))
    assert brute
    assert oracle.near_dup_pairs(docs) == brute


# ---------------------------------------------------------------------------
# tiny runs of each workload
# ---------------------------------------------------------------------------


@pytest.mark.spark
@pytest.mark.parametrize("name", sorted(workloads.WORKLOADS))
def test_workload_smoke(name, monkeypatch, tmp_path):
    cls = workloads.WORKLOADS[name]
    for attr, small in (("ROWS", 3_000), ("DOCS", 300), ("VECS", 150), ("ORDERS", 1_500)):
        if hasattr(cls, attr):
            monkeypatch.setattr(cls, attr, small)
    if hasattr(cls, "MIX"):
        monkeypatch.setattr(cls, "MIX", cls.MIX[:3] + ("stream_dedup_keys",))
    for key in ("SPARK_GRAFT_CPUS", "SPARK_DRIVER_MEMORY", "SPARK_LOCAL_DIRS", "TMPDIR", "PYTHONPATH"):
        if key in os.environ:
            monkeypatch.setenv(key, os.environ[key])
        else:
            monkeypatch.delenv(key, raising=False)
    monkeypatch.setattr(bench, "WORK_ROOT", str(tmp_path / "work"))
    monkeypatch.setattr(bench, "TRACE_DIR", str(tmp_path / "traces"))
    result = bench.run(name, seed=1, seconds=0, trace=True)
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    m = {k: v["value"] for k, v in result["metrics"].items()}
    assert m["session.start_s"] > 0 and m["plans.execute_s"] > 0
    assert m["spark.tasks"] > 0 and m["spark.failed_tasks"] == 0
    assert m["sources.rows"] > 0
    assert os.listdir(tmp_path / "traces")
    assert not os.path.exists(tmp_path / "work")
