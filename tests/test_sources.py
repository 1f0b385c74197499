"""Sources & sinks: S1 folder-CSV scan with filename-derived audit
date, S2 single CSV, S3 single-file CSV sink with BOM, S5 JDBC URL.
"""

from __future__ import annotations

import os

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from etl_sales_pandas_sqlserver_spark.sources import (
    jdbc_url,
    read_csv,
    read_sales_folder,
    write_single_csv,
)

CSV_HEADER = "Sale_ID,Product,Amount,Date\n"


def _write_folder(tmp_path):
    files = {
        "2025-01-01.csv": "a1,K-A,1.00 USD,2024-01-01\na2,K-B,2.00 EUR,2024-01-02\n",
        "2025-02-01.csv": "b1,K-C,3.00,2024-02-01\n",
        "notes.csv": "c1,K-D,4.00 USD,2024-03-01\n",  # non-date stem -> NULL audit
        "ignore.txt": "not,a,csv,file\n",
    }
    for name, body in files.items():
        (tmp_path / name).write_text(CSV_HEADER + body if name.endswith(".csv") else body)
    return str(tmp_path)


def test_read_sales_folder_audit_date(spark, tmp_path):
    d = _write_folder(tmp_path)
    df = read_sales_folder(spark, d)
    rows = {r["Sale_ID"]: r for r in df.collect()}
    assert len(rows) == 4  # txt file excluded by the *.csv filter
    assert rows["a1"]["Audit_Date"].month == 1
    assert rows["b1"]["Audit_Date"].month == 2
    assert rows["c1"]["Audit_Date"] is None  # non-date stem coerced to NULL


def test_read_sales_folder_lists_on_the_driver(spark, tmp_path, job_ids):
    """40 files are above the 32-path parallel-discovery threshold: a
    per-file glob would list them with a Spark job on every read. The
    filtered directory read starts none and reads only top-level
    ``*.csv`` files -- not ``sub/x.csv``, not the directory ``old.csv/``."""
    for i in range(40):
        (tmp_path / f"f{i:02d}.csv").write_text(CSV_HEADER + f"s{i},K-A,1.00,2024-01-01\n")
    for sub in ("sub/x.csv", "old.csv/part.csv"):
        (tmp_path / sub).parent.mkdir()
        (tmp_path / sub).write_text(CSV_HEADER + "nested,K-A,1.00,2024-01-01\n")
    df, jobs = job_ids(lambda: read_sales_folder(spark, str(tmp_path)))
    assert jobs == []
    ids = [r["Sale_ID"] for r in df.select("Sale_ID").collect()]
    assert sorted(ids) == sorted(f"s{i}" for i in range(40))


@pytest.mark.parametrize("files", [[], ["readme.txt"]], ids=["empty", "no_csv"])
def test_read_sales_folder_without_csv_fails_loudly(spark, tmp_path, files):
    """A folder with no ``*.csv`` is an error naming the folder, not a
    silent 0-row frame."""
    folder = tmp_path / "inbox"
    folder.mkdir()
    for name in files:
        (folder / name).write_text("not sales\n")
    with pytest.raises(FileNotFoundError, match="inbox"):
        read_sales_folder(spark, str(folder))


def test_read_sales_folder_missing_folder_fails_loudly(spark, tmp_path):
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        read_sales_folder(spark, str(tmp_path / "missing"))


def test_read_csv_with_date_parse(spark, tmp_path):
    p = tmp_path / "one.csv"
    p.write_text(CSV_HEADER + "x1,K-A,1.00 USD,2024-05-05\nx2,K-B,2.00 USD,garbage\n")
    df = read_csv(spark, str(p), date_col="Date")
    rows = {r["Sale_ID"]: r for r in df.collect()}
    assert rows["x1"]["Date"].day == 5
    assert rows["x2"]["Date"] is None


def test_write_single_csv_bom(spark, tmp_path):
    df = spark.createDataFrame([("a", 1.5)], ["k", "v"])
    out = str(tmp_path / "out.csv")
    write_single_csv(df, out, with_bom=True)
    data = open(out, "rb").read()
    assert data.startswith(b"\xef\xbb\xbf")  # utf-8-sig parity (etl_utils.py:125)
    assert b"k,v" in data and b"a,1.5" in data
    assert os.path.isfile(out) and not os.path.isdir(out + "._spark_tmp")
    plain = str(tmp_path / "plain.csv")
    write_single_csv(df, plain, with_bom=False)
    assert data == b"\xef\xbb\xbf" + open(plain, "rb").read()


def test_jdbc_url_construction():
    url = jdbc_url("MyDatabase")
    assert url == "jdbc:sqlserver://localhost:1433;databaseName=MyDatabase;integratedSecurity=true"
    url2 = jdbc_url("DB", host="srv", port=1444, integrated_security=False)
    assert url2 == "jdbc:sqlserver://srv:1444;databaseName=DB"


# ---------------------------------------------------------------------------
# formats.py: JSON-lines + hive-partitioned parquet
# ---------------------------------------------------------------------------

from pyspark.sql import types as T  # noqa: E402

from etl_sales_pandas_sqlserver_spark.sources import (  # noqa: E402
    read_jsonl,
    read_partitioned_parquet,
    write_jsonl,
    write_partitioned_parquet,
)

_JSONL_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("lang", T.StringType()),
        T.StructField("score", T.DoubleType()),
        T.StructField("_corrupt_record", T.StringType()),
    ]
)


def test_jsonl_roundtrip_and_corrupt_capture(spark, tmp_path):
    src = tmp_path / "in.jsonl"
    src.write_text(
        '{"id": 1, "lang": "en", "score": 0.5}\n'
        '{"id": 2, "lang": "de", "score": null}\n'
        "THIS IS NOT JSON\n"
    )
    df = read_jsonl(spark, str(src), _JSONL_SCHEMA)
    rows = df.collect()
    assert len(rows) == 3
    good = {r["id"]: r for r in rows if r["id"] is not None}
    assert good[1]["score"] == 0.5 and good[2]["score"] is None
    bad = [r for r in rows if r["id"] is None]
    assert len(bad) == 1 and "NOT JSON" in bad[0]["_corrupt_record"]

    out = str(tmp_path / "out_json")
    write_jsonl(df.drop("_corrupt_record").filter(F.col("id").isNotNull()), out)
    back = read_jsonl(spark, out, _JSONL_SCHEMA).drop("_corrupt_record")
    assert {r["id"] for r in back.collect()} == {1, 2}
    # explicit nulls survive the round trip (ignoreNullFields=false)
    assert [r["score"] for r in back.orderBy("id").collect()] == [0.5, None]


def test_partitioned_parquet_prunes(spark, tmp_path):
    df = spark.createDataFrame(
        [(i, ["en", "de", "fr"][i % 3], float(i)) for i in range(30)],
        "doc_id long, lang string, score double",
    )
    out = str(tmp_path / "part_parquet")
    write_partitioned_parquet(df, out, ("lang",))
    # hive layout on disk
    assert (tmp_path / "part_parquet" / "lang=en").exists()
    back = read_partitioned_parquet(spark, out)
    only_en = back.filter(F.col("lang") == "en")
    assert only_en.count() == 10
    # the partition filter must prune at plan time, not post-scan
    plan = only_en._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(lang" in plan, plan


def test_partitioned_table_rebuilds_half_built_layout(spark, sf_small):
    """Round-8 advice: a crash mid-write used to leave a directory that
    the bare isdir() check trusted forever (with a blanket except then
    serving the unpartitioned source). Only _SUCCESS certifies a
    layout; a markerless corpse must be rebuilt, and no scratch dirs
    may leak."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from etl_sales_pandas_sqlserver_spark.sources.partitioned import (
        _PARTITIONED_ROOT,
        _tag,
        partitioned_table,
    )

    want = {
        tuple(r)
        for r in partitioned_table(
            spark, sf_small, "events", "event_date", F.to_date("ts")
        )
        .groupBy("event_date")
        .count()
        .collect()
    }
    path = os.path.join(
        _PARTITIONED_ROOT,
        f"events_event_date_{_tag(sf_small, 'events', 'event_date')}",
    )
    marker = os.path.join(path, "_SUCCESS")
    assert os.path.isfile(marker)

    # simulate the crash corpse: directory present, marker missing,
    # data half-gone
    os.remove(marker)
    for sub in os.listdir(path)[:1]:
        shutil.rmtree(os.path.join(path, sub), ignore_errors=True)
    got = {
        tuple(r)
        for r in partitioned_table(
            spark, sf_small, "events", "event_date", F.to_date("ts")
        )
        .groupBy("event_date")
        .count()
        .collect()
    }
    assert got == want
    assert os.path.isfile(marker)  # rebuilt and published
    leaks = [d for d in os.listdir(_PARTITIONED_ROOT) if d.startswith(".build_")]
    assert leaks == []


def test_xml_roundtrip_and_corrupt_record(spark, tmp_path):
    """Native Spark-4 XML: typed round trip through write_xml/read_xml
    (nested struct column included), plus the PERMISSIVE corrupt-record
    contract on malformed rows."""
    from pyspark.sql import types as T

    from etl_sales_pandas_sqlserver_spark.sources.formats import (
        read_xml,
        write_xml,
    )

    df = spark.createDataFrame(
        [(1, "a", (10.5, "x")), (2, "b", (20.25, "y"))],
        "id long, name string, meta struct<score: double, tag: string>",
    )
    out = str(tmp_path / "xmlout")
    write_xml(df, out, row_tag="doc")
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("name", T.StringType()),
            T.StructField(
                "meta",
                T.StructType(
                    [
                        T.StructField("score", T.DoubleType()),
                        T.StructField("tag", T.StringType()),
                    ]
                ),
            ),
        ]
    )
    back = read_xml(spark, out, row_tag="doc", schema=schema)
    got = {(r.id, r.name, r.meta.score, r.meta.tag) for r in back.collect()}
    assert got == {(1, "a", 10.5, "x"), (2, "b", 20.25, "y")}

    # malformed row -> corrupt-record column, well-formed rows survive
    bad = str(tmp_path / "bad.xml")
    with open(bad, "w") as f:
        f.write(
            "<rows><doc><id>1</id><name>ok</name></doc>"
            "<doc><id>NOT A NUMBER</id><name>broken</name></doc></rows>"
        )
    schema2 = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("name", T.StringType()),
            T.StructField("_corrupt_record", T.StringType()),
        ]
    )
    rows = read_xml(spark, bad, row_tag="doc", schema=schema2).collect()
    ok = [r for r in rows if r.id is not None]
    broken = [r for r in rows if r.id is None]
    assert [r.name for r in ok] == ["ok"]
    assert len(broken) == 1 and broken[0]._corrupt_record is not None


def test_orc_roundtrip_pushdown(spark, tmp_path):
    from etl_sales_pandas_sqlserver_spark.sources.formats import (
        read_orc,
        write_orc,
    )

    df = spark.range(1000).select(
        F.col("id"), (F.col("id") % 7).alias("bucket")
    )
    path = str(tmp_path / "orc_rt")
    write_orc(df, path)
    back = read_orc(spark, path)
    assert back.count() == 1000
    filtered = back.filter(F.col("bucket") == 3)
    assert filtered.count() == df.filter(F.col("id") % 7 == 3).count()
    # pushdown reaches the ORC scan
    plan = filtered._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "bucket" in plan


def test_compact_parquet_reduces_files_preserves_rows(spark, tmp_path):
    from etl_sales_pandas_sqlserver_spark.sources.maintenance import (
        compact_parquet,
    )

    path = str(tmp_path / "fragmented")
    # 40 tiny files
    spark.range(4000).repartition(40).write.parquet(path)
    before = len([f for f in os.listdir(path) if f.endswith(".parquet")])
    assert before == 40
    # a few KB in all -> one 128 MB target file holds everything
    n = compact_parquet(spark, path)
    after = [f for f in os.listdir(path) if f.endswith(".parquet")]
    assert n == 1 and len(after) == 1
    assert spark.read.parquet(path).count() == 4000


def test_merged_schema_read_fills_missing_columns(spark, tmp_path):
    from etl_sales_pandas_sqlserver_spark.sources.maintenance import (
        read_parquet_merged_schema,
    )

    path = str(tmp_path / "evolving")
    spark.range(5).selectExpr("id").write.parquet(path)
    spark.range(5, 10).selectExpr("id", "id * 2 AS extra").write.mode(
        "append"
    ).parquet(path)
    df = read_parquet_merged_schema(spark, path)
    assert set(df.columns) == {"id", "extra"}
    rows = {r["id"]: r["extra"] for r in df.collect()}
    assert rows[2] is None and rows[7] == 14


def test_engine_session_runs_spark_4_sql_semantics(spark):
    """``get_spark`` keeps Spark 4's defaults, which a plain session (the
    driver's) reads, so tier-1 checks the semantics the driver runs."""
    for key in (
        "spark.sql.ansi.enabled",
        "spark.sql.parquet.inferTimestampNTZ.enabled",
    ):
        assert spark.conf.get(key) == "true", key


def test_events_ts_pinned_ltz_under_ntz_inference(spark, sf_small):
    """Regression guard for the round-3 driver break: a Spark 4 session
    infers parquet timestamp[us] as TIMESTAMP_NTZ, and
    ``unix_micros(ts)`` then fails with DATATYPE_MISMATCH. load_table
    must pin events.ts to TimestampType via its declared-schema read."""
    from pyspark.sql import types as T

    from etl_sales_pandas_sqlserver_spark.sources.testdata import load_table

    # the hazard is real: an inferred read yields NTZ...
    raw = spark.read.parquet(f"{sf_small}/events.parquet")
    assert isinstance(raw.schema["ts"].dataType, T.TimestampNTZType)
    # ...but the loader's declared schema pins LTZ, and the exact
    # expression that broke in round 3 resolves on its output
    ev = load_table(spark, sf_small, "events")
    assert isinstance(ev.schema["ts"].dataType, T.TimestampType)
    ev.select(F.unix_micros("ts")).limit(1).collect()


def test_load_table_memo_sees_parquet_directory_rewrite(spark, sf_small, tmp_path):
    """The schema memo covers a Spark-written parquet DIRECTORY, and a
    rewrite of that directory re-verifies: dropping a required column
    must raise the missing-columns error, not serve the memoized
    schema."""
    import pytest

    from etl_sales_pandas_sqlserver_spark.sources.testdata import (
        _SCHEMA_MEMO,
        load_table,
    )

    sf = str(tmp_path)
    src = spark.read.parquet(f"{sf_small}/nation.parquet")
    src.write.parquet(f"{sf}/nation.parquet")
    assert load_table(spark, sf, "nation").count() == src.count()
    assert (sf, "nation") in _SCHEMA_MEMO[spark]

    src.drop("n_regionkey").write.mode("overwrite").parquet(f"{sf}/nation.parquet")
    with pytest.raises(ValueError, match="missing columns"):
        load_table(spark, sf, "nation")


def test_csv_bad_record_quarantine(spark, tmp_path):
    """Malformed rows land in the quarantine frame with their raw
    text; clean rows parse under the declared schema; nothing is
    silently dropped or nulled."""
    from pyspark.sql import types as T

    from etl_sales_pandas_sqlserver_spark.sources.csv_folder import (
        read_csv_with_bad_records,
    )

    p = tmp_path / "mixed.csv"
    p.write_text(
        "id,amount\n"
        "1,10.5\n"
        "oops,not-a-number\n"
        "2,20.25\n"
        "3,bad\n"
    )
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("amount", T.DoubleType()),
        ]
    )
    good, bad = read_csv_with_bad_records(spark, str(p), schema)
    good_rows = {(r.id, r.amount) for r in good.collect()}
    assert good_rows == {(1, 10.5), (2, 20.25)}
    bad_rows = sorted(r.raw_record for r in bad.collect())
    assert bad_rows == ["3,bad", "oops,not-a-number"]


def test_csv_bad_records_survive_cache_release(spark, tmp_path):
    """The quarantine frame must stay collectible after the session's
    caches are released (round-7 advice): before the fix, releasing
    caches between construction and collection made `bad` throw
    QUERY_ONLY_CORRUPT_RECORD_COLUMN at runtime."""
    from pyspark.sql import types as T

    from etl_sales_pandas_sqlserver_spark.sources.csv_folder import (
        read_csv_with_bad_records,
    )

    p = tmp_path / "mixed.csv"
    p.write_text("id,amount\n1,10.5\nbad-row,xx\n")
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("amount", T.DoubleType()),
        ]
    )
    good, bad = read_csv_with_bad_records(spark, str(p), schema)
    # release every cache between construction and collection
    spark.catalog.clearCache()
    assert [r.raw_record for r in bad.collect()] == ["bad-row,xx"]
    assert {(r.id, r.amount) for r in good.collect()} == {(1, 10.5)}


def test_zorder_write_clusters_both_dims(spark, tmp_path, sf_small):
    """Z-ordered layout: a range predicate on EITHER z-ordered column
    must be satisfiable from a strict subset of files (per-file min/max
    spans are narrow on both dims), which a single-column sort can't
    deliver for the second column."""
    from pyspark.sql import functions as F

    from etl_sales_pandas_sqlserver_spark.sources.maintenance import (
        zorder_write,
    )
    from etl_sales_pandas_sqlserver_spark.sources.testdata import load_table

    orders = load_table(spark, sf_small, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    out = str(tmp_path / "z")
    zorder_write(orders, out, ["o_custkey", "o_totalprice"])

    per_file = (
        spark.read.parquet(out)
        .groupBy(F.input_file_name().alias("f"))
        .agg(
            (F.max("o_custkey") - F.min("o_custkey")).alias("span_c"),
            (F.max("o_totalprice") - F.min("o_totalprice")).alias("span_p"),
        )
        .collect()
    )
    assert len(per_file) > 1
    full_c = orders.agg(
        F.max("o_custkey") - F.min("o_custkey")
    ).collect()[0][0]
    full_p = orders.agg(
        F.max("o_totalprice") - F.min("o_totalprice")
    ).collect()[0][0]
    # MEAN per-file span must be well under the full range on BOTH
    # dims (a plain sort by custkey would leave mean span_p ~= full
    # range). Individual files MAY span a whole dim -- Morton order
    # necessarily crosses major bit boundaries somewhere.
    mean_c = sum(r.span_c for r in per_file) / len(per_file)
    mean_p = sum(r.span_p for r in per_file) / len(per_file)
    assert mean_c < 0.7 * full_c, (mean_c, full_c)
    assert mean_p < 0.7 * full_p, (mean_p, full_p)
    # and the rewrite loses no rows
    assert spark.read.parquet(out).count() == orders.count()


def test_zorder_effective_bits_guard():
    """bits*len(cols) > 63 would reach the BIGINT sign bit and scramble
    the Morton key; the guard must auto-reduce per-column precision and
    reject degenerate column counts."""
    import pytest

    from etl_sales_pandas_sqlserver_spark.sources.maintenance import (
        zorder_effective_bits,
    )

    assert zorder_effective_bits(16, 2) == 16  # fits: top shift 33
    assert zorder_effective_bits(16, 3) == 16  # fits: top shift 49
    assert zorder_effective_bits(16, 4) == 15  # 16*4-1=63 hits sign bit
    assert zorder_effective_bits(16, 8) == 7
    with pytest.raises(ValueError):
        zorder_effective_bits(16, 64)  # <1 bit per column
    with pytest.raises(ValueError):
        zorder_effective_bits(16, 0)


def test_zorder_write_caps_bits_to_bigint(spark, tmp_path, sf_small):
    """4 cols at bits=16 trips the sign-bit guard (-> 15
    effective); the rewrite must stay lossless and still cluster the
    most-significant z column (the LAST in the list -- interleave slot
    b*len+i puts larger i higher)."""
    from pyspark.sql import functions as F

    from etl_sales_pandas_sqlserver_spark.sources.maintenance import (
        zorder_write,
    )
    from etl_sales_pandas_sqlserver_spark.sources.testdata import load_table

    orders = load_table(spark, sf_small, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        F.dayofyear("o_orderdate").alias("o_orderday"),
    )
    out = str(tmp_path / "z4")
    zorder_write(
        orders, out, ["o_totalprice", "o_orderkey", "o_orderday", "o_custkey"]
    )
    back = spark.read.parquet(out)
    assert back.count() == orders.count()
    per_file = (
        back.groupBy(F.input_file_name())
        .agg((F.max("o_custkey") - F.min("o_custkey")).alias("span_c"))
        .collect()
    )
    full_c = orders.agg(
        F.max("o_custkey") - F.min("o_custkey")
    ).collect()[0][0]
    mean_c = sum(r.span_c for r in per_file) / len(per_file)
    # 8 files split the top ~3 key bits, whose MSB is o_custkey's --
    # so each file should cover roughly half the custkey range; a
    # wrapped key would push the mean span toward the full range
    assert mean_c < 0.8 * full_c, (mean_c, full_c)
