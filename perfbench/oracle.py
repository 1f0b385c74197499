"""Output checks: canonical, order-insensitive result digests and the
DuckDB oracles the benchmark compares the engine's outputs against.

- :func:`digest` turns an Arrow table into a canonical row multiset
  (lower-cased column names in sorted order, rows sorted, integral
  floats/decimals as ints, timestamps as naive UTC ISO strings) and
  hashes it, so a Spark result and a DuckDB result of the same query
  hash alike.
- :class:`ParquetOracle` runs a registry query's oracle SQL in DuckDB
  over a directory of generated parquet tables, once per query.
- :func:`near_dup_reference` computes the near-duplicate queries'
  results exactly in Python (their oracle SQL is too slow to run per
  benchmark run).
- :class:`SalesOracle` checks the three CSVs one sales pipeline call
  wrote against the same job written in DuckDB SQL over the same input
  CSVs.
"""

from __future__ import annotations

import csv
import datetime as dt
import decimal
import hashlib
import io
import math
import os

import duckdb
import pyarrow as pa

BOM = b"\xef\xbb\xbf"


def _canon(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, float):
        if math.isnan(v):
            return None
        return int(v) if v.is_integer() and abs(v) < 2**63 else v
    if isinstance(v, decimal.Decimal):
        return int(v) if v == v.to_integral_value() else float(v)
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, dict):
        return tuple((k, _canon(x)) for k, x in sorted(v.items()))
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    return v


def canonical_rows(table: pa.Table) -> tuple[tuple[str, ...], list[tuple]]:
    names = [n.lower() for n in table.column_names]
    order = sorted(range(len(names)), key=names.__getitem__)
    cols = [table.column(i).to_pylist() for i in order]
    rows = [tuple(_canon(v) for v in r) for r in zip(*cols)]
    rows.sort(key=repr)
    return tuple(names[i] for i in order), rows


def digest(table: pa.Table) -> str:
    names, rows = canonical_rows(table)
    h = hashlib.sha256(repr(names).encode())
    for r in rows:
        h.update(repr(r).encode())
    return h.hexdigest()


class ParquetOracle:
    """DuckDB over one directory of ``<table>.parquet`` files; the
    near-duplicate queries use :func:`near_dup_reference` instead."""

    def __init__(self, directory: str, tables: list[str]) -> None:
        self.directory = directory
        self.con = duckdb.connect()
        for t in tables:
            path = os.path.join(directory, f"{t}.parquet")
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
        self._digests: dict[str, tuple[str, int]] = {}

    def expected(self, name: str, sql: str) -> tuple[str, int]:
        """(digest, row count) of ``sql``, computed once per name."""
        if name not in self._digests:
            if name in NEAR_DUP_QUERIES:
                for k, t in near_dup_reference(self.directory).items():
                    self._digests[k] = (digest(t), t.num_rows)
            else:
                table = self.con.execute(sql).fetch_arrow_table()
                self._digests[name] = (digest(table), table.num_rows)
        return self._digests[name]

    def close(self) -> None:
        self.con.close()


# ---------------------------------------------------------------------------
# Near-duplicate detection
# ---------------------------------------------------------------------------

#: the registry's oracle SQL for these three is an all-pairs Jaccard
#: self-join (tens of seconds for 500 documents in DuckDB), so they are
#: checked against this exact reference with the same definitions
NEAR_DUP_QUERIES = ("dedup_minhash_lsh", "dedup_clusters", "graph_pagerank_dup")
JACCARD_THRESHOLD = 0.9
PAGERANK_ITERS = 5


def _shingles(text: str) -> set[str]:
    """Distinct word 3-grams. The generated texts are words joined by
    single spaces, so a space split equals the engine's whitespace-class
    split."""
    w = text.split(" ")
    return {f"{w[i]} {w[i + 1]} {w[i + 2]}" for i in range(len(w) - 2)}


def near_dup_pairs(docs: list[tuple[int, str]]) -> list[tuple[int, int, float]]:
    """Every pair (a < b) with exact shingle Jaccard >= the threshold,
    found with a prefix filter: two sets with Jaccard >= t share a token
    among the first ``n - floor(t * n) + 1`` tokens of each, rarest
    first."""
    sets = {d: _shingles(t) for d, t in docs}
    freq: dict[str, int] = {}
    for s in sets.values():
        for tok in s:
            freq[tok] = freq.get(tok, 0) + 1
    index: dict[str, list[int]] = {}
    cand: set[tuple[int, int]] = set()
    for d, s in sets.items():
        toks = sorted(s, key=lambda x: (freq[x], x))
        for tok in toks[: len(toks) - math.floor(JACCARD_THRESHOLD * len(toks)) + 1]:
            for other in index.setdefault(tok, []):
                cand.add((min(d, other), max(d, other)))
            index[tok].append(d)
    out = []
    for a, b in sorted(cand):
        common = len(sets[a] & sets[b])
        union = len(sets[a]) + len(sets[b]) - common
        if union and common / union >= JACCARD_THRESHOLD:
            out.append((a, b, common / union))
    return out


def near_dup_reference(directory: str) -> dict[str, pa.Table]:
    """Expected results of :data:`NEAR_DUP_QUERIES` on a corpus: the
    pairs, their connected components (cluster id = the component's
    smallest doc id) and five rounds of integer PageRank (ppm, damping
    0.85) on the undirected pair graph."""
    import pyarrow.parquet as pq

    t = pq.read_table(os.path.join(directory, "documents.parquet"), columns=["doc_id", "text"])
    pairs = near_dup_pairs(list(zip(t.column("doc_id").to_pylist(), t.column("text").to_pylist())))
    adj: dict[int, list[int]] = {}
    for a, b, _ in pairs:
        adj.setdefault(a, []).append(b)
        adj.setdefault(b, []).append(a)
    cluster: dict[int, int] = {}
    for v in sorted(adj):
        if v in cluster:
            continue
        stack = [v]
        cluster[v] = v
        while stack:
            x = stack.pop()
            for y in adj[x]:
                if y not in cluster:
                    cluster[y] = v
                    stack.append(y)
    rank = {v: 1_000_000 for v in adj}
    for _ in range(PAGERANK_ITERS):
        contrib: dict[int, int] = {}
        for s, ds in adj.items():
            c = rank[s] // len(ds)
            for d in ds:
                contrib[d] = contrib.get(d, 0) + c
        rank = {v: 150_000 + (850_000 * c) // 1_000_000 for v, c in contrib.items()}
    return {
        "dedup_minhash_lsh": pa.table(
            {"a_id": [p[0] for p in pairs], "b_id": [p[1] for p in pairs],
             "jaccard": [p[2] for p in pairs]}
        ),
        "dedup_clusters": pa.table(
            {"doc_id": sorted(cluster), "cluster_id": [cluster[v] for v in sorted(cluster)]}
        ),
        "graph_pagerank_dup": pa.table(
            {"doc_id": sorted(rank), "rank_ppm": [rank[v] for v in sorted(rank)]}
        ),
    }


# ---------------------------------------------------------------------------
# Sales pipeline
# ---------------------------------------------------------------------------

#: the raw sales table as the pipeline reads it: every ``*.csv`` of the
#: folder, all columns as text, ``Audit_Date`` = the filename stem when
#: it is a date (NULL otherwise, like the engine's ``try_to_timestamp``)
_RAW_CSV_SQL = """
    CREATE VIEW raw AS
    SELECT Sale_ID, Product, Amount, "Date",
           CASE WHEN try_cast(stem AS DATE) IS NOT NULL THEN stem END AS Audit_Date
    FROM (
      SELECT *, regexp_extract(filename, '([^/]+)\\.csv$', 1) AS stem
      FROM read_csv('{folder}/*.csv', header = true, all_varchar = true,
                    filename = true,
                    columns = {{'Sale_ID': 'VARCHAR', 'Product': 'VARCHAR',
                                'Amount': 'VARCHAR', 'Date': 'VARCHAR'}})
    )
"""

#: reference main.py:53-100: upper Sale_ID, keep the first row per id in
#: (Audit_Date, Date) order, product = last '-' token, EUR x 0.85 rounded
#: half-even on exact cents, unparseable amounts and dates dropped
_VALID_SQL = """
    CREATE VIEW valid AS
    WITH firsts AS (
      SELECT upper(Sale_ID) AS Sale_ID, Product, Amount, "Date", Audit_Date
      FROM raw WHERE Sale_ID IS NOT NULL
      QUALIFY row_number() OVER (
        PARTITION BY upper(Sale_ID)
        ORDER BY Audit_Date ASC NULLS LAST, "Date" ASC NULLS LAST) = 1
    ),
    parsed AS (
      SELECT Sale_ID,
             list_extract(string_split(trim(upper(Product)), '-'), -1) AS Product,
             ends_with(Amount, 'EUR') AS eur,
             try_cast(replace(replace(Amount, 'USD', ''), 'EUR', '') AS DECIMAL(18, 2)) AS amt,
             try_cast("Date" AS TIMESTAMP) AS "Date",
             try_cast(Audit_Date AS TIMESTAMP) AS Audit_Date
      FROM firsts WHERE Product IS NOT NULL
    ),
    cents AS (
      SELECT *, amt * CAST(0.85 AS DECIMAL(3, 2)) * 100 AS cx,
             floor(amt * CAST(0.85 AS DECIMAL(3, 2)) * 100) AS fx
      FROM parsed
    )
    SELECT Sale_ID, Product,
           CASE WHEN eur THEN CAST(CASE WHEN cx - fx > 0.5 THEN fx + 1
                                        WHEN cx - fx < 0.5 THEN fx
                                        WHEN fx % 2 = 0 THEN fx ELSE fx + 1 END AS DOUBLE) / 100
                ELSE CAST(amt AS DOUBLE) END AS Amount,
           strftime("Date", '%Y-%m-%d') AS "Date",
           strftime(Audit_Date, '%Y-%m-%d') AS Audit_Date
    FROM cents
    WHERE amt IS NOT NULL AND "Date" IS NOT NULL AND Audit_Date IS NOT NULL
"""

#: reference main.py:106-151: ids and products as pandas' astype(str)
#: renders them (NULL -> 'NAN'); Reason N (a NULL field) > A (no
#: USD/EUR) > D (id seen more than once among the rest)
_INVALID_SQL = """
    WITH base AS (
      SELECT upper(coalesce(Sale_ID, 'nan')) AS Sale_ID,
             upper(list_extract(string_split(coalesce(Product, 'nan'), '-'), -1)) AS Product,
             Amount, "Date", Audit_Date,
             Amount IS NULL OR "Date" IS NULL OR Audit_Date IS NULL AS has_null,
             coalesce(regexp_matches(upper(Amount), 'USD|EUR'), FALSE) AS has_currency
      FROM raw
    )
    SELECT Sale_ID, Product, Amount, "Date", Audit_Date, 'N' FROM base WHERE has_null
    UNION ALL
    SELECT Sale_ID, Product, Amount, "Date", Audit_Date, 'A' FROM base
    WHERE NOT has_null AND NOT has_currency
    UNION ALL
    SELECT Sale_ID, Product, Amount, "Date", Audit_Date, 'D' FROM base
    WHERE NOT has_null AND has_currency
    QUALIFY count(*) OVER (PARTITION BY Sale_ID) > 1
"""

#: reference main.py:156-179, sorted by (month, product)
_SUMMARY_SQL = """
    SELECT strftime(CAST("Date" AS TIMESTAMP), '%m/%Y') AS mes, Product,
           CAST(sum(CAST(Amount AS DECIMAL(18, 2))) AS DOUBLE), count(Amount), min(Amount)
    FROM valid GROUP BY 1, 2 ORDER BY 1, 2
"""


def _text(v) -> str | None:
    """A value as the engine's CSV sink renders it: Spark's writer drops
    surrounding whitespace and writes NULL as an empty field."""
    if v is None:
        return None
    s = str(v).strip()
    return s or None


def _read_bom_csv(path: str) -> list[list[str | None]]:
    """Data rows of a CSV that must start with a UTF-8 BOM."""
    with open(path, "rb") as fh:
        data = fh.read()
    if not data.startswith(BOM):
        raise ValueError(f"{os.path.basename(path)}: no UTF-8 BOM")
    rows = list(csv.reader(io.StringIO(data[len(BOM):].decode("utf-8"))))
    return [[_text(v) for v in r] for r in rows[1:]]


def _num(v: str | None) -> float | None:
    return None if v is None else float(v)


class SalesOracle:
    """Expected valid / invalid / monthly-summary rows of the sales
    pipeline over one folder of CSVs, computed once in DuckDB."""

    def __init__(self, folder: str) -> None:
        con = duckdb.connect()
        try:
            con.execute(_RAW_CSV_SQL.format(folder=folder))
            con.execute(_VALID_SQL)
            self.valid = sorted(
                (_text(a), _text(b), c, d, e)
                for a, b, c, d, e in con.execute("SELECT * FROM valid").fetchall()
            )
            self.invalid = sorted(
                (tuple(_text(v) for v in r) for r in con.execute(_INVALID_SQL).fetchall()),
                key=repr,
            )
            self.summary = [
                (m, _text(p), t, n, lo) for m, p, t, n, lo in con.execute(_SUMMARY_SQL).fetchall()
            ]
        finally:
            con.close()

    def check(self, outputs: dict[str, str], metrics: dict) -> list[str]:
        """Mismatches between one pipeline call's CSVs + observer counts
        and the oracle; empty when the call is correct."""
        problems: list[str] = []
        # the pipeline returns its outputs in order: valid, invalid, summary
        valid, invalid, summary = (_read_bom_csv(p) for p in outputs.values())
        got_valid = sorted((a, b, _num(c), d, e) for a, b, c, d, e in valid)
        if got_valid != self.valid:
            problems.append(f"valid: {len(got_valid)} rows vs oracle {len(self.valid)}")
        if sorted((tuple(r) for r in invalid), key=repr) != self.invalid:
            problems.append(f"invalid: {len(invalid)} rows vs oracle {len(self.invalid)}")
        got_summary = [(m, p, _num(t), int(n), _num(lo)) for m, p, t, n, lo in summary]
        if len(got_summary) != len(self.summary) or not all(
            _close_row(a, b) for a, b in zip(got_summary, self.summary)
        ):
            problems.append(f"summary: {len(got_summary)} rows vs oracle {len(self.summary)}")
        for stage, rows in (("valid", valid), ("invalid", invalid), ("summary", summary)):
            if metrics[stage]["rows"] != len(rows):
                problems.append(
                    f"observer {stage} rows {metrics[stage]['rows']} != file rows {len(rows)}"
                )
        return problems


def _close_row(got: tuple, want: tuple) -> bool:
    """Equal rows, floats to 1e-9: the pipeline sums amounts as doubles,
    whose last digits depend on summation order; the oracle sums exact
    decimals."""
    return all(
        math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9) if isinstance(a, float) else a == b
        for a, b in zip(got, want)
    )
