"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its arguments: the same seed
writes the same bytes. Nothing here touches Spark; the benchmark hands
the engine only the files these functions write.

- :func:`write_sales_folder` -- a folder of daily sales CSVs named by
  audit date (plus one non-date filename), covering every raw-row class
  of the sales pipeline at fixed rates.
- :func:`write_star_schema` -- the ten-table star schema the engine's
  query registry reads (``region`` ... ``lineitem``, ``events``,
  ``documents``, ``embeddings``), one parquet file per table, with the
  column names, types and value domains the registry queries filter on.
- :func:`write_corpus` -- ``documents`` + ``embeddings`` only, for one
  curation corpus.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SALES_HEADER = "Sale_ID,Product,Amount,Date"

#: row classes of the raw sales input and their share of generated rows
#: (the rest are clean rows). ``dup_valid`` rows come in groups of 2-3
#: copies of one Sale_ID spread over distinct files; ``dup_null`` rows
#: are exact copies of a null-Amount row in one file.
SALES_CLASS_RATES = {
    "bare_amount": 0.08,  # no currency -> Reason A, still valid
    "null_amount": 0.03,  # Reason N
    "null_date": 0.03,  # Reason N
    "bad_date": 0.02,  # unparseable Date -> dropped from valid
    "null_product": 0.01,  # surfaces as Product 'NAN' in invalid
    "null_sale_id": 0.01,  # dropped from valid; 'NAN' groups in invalid
    "messy_case": 0.05,  # lowercase Sale_ID, padded mixed-case Product
    "eur_tie": 0.04,  # EUR amount whose x0.85 is a half-even tie
    "dup_valid": 0.08,  # Reason D, one copy kept in valid
    "dup_null": 0.01,  # duplicated null-carrying rows kept verbatim
}
#: share of generated rows written to the non-date file (null Audit_Date)
NOTES_RATE = 0.01
NOTES_FILE = "notes.csv"

_B36 = "0123456789ABCDEFGHIJKLMNOPQRSTUVWXYZ"
_PREFIXES = ("PROD", "ITEM", "SKU", "ART")
_LETTERS = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"


def _sale_ids(rng: np.random.Generator, n: int) -> list[str]:
    """``n`` distinct 8-char uppercase base-36 ids."""
    seen: set[int] = set()
    out: list[str] = []
    while len(out) < n:
        for v in rng.integers(36**7, 36**8, size=n - len(out)).tolist():
            if v in seen:
                continue
            seen.add(v)
            s = ""
            for _ in range(8):
                v, r = divmod(v, 36)
                s = _B36[r] + s
            out.append(s)
    return out


def _amount(cents: int, currency: str) -> str:
    text = f"{cents // 100}.{cents % 100:02d}"
    return f"{text} {currency}" if currency else text


def _csv_field(value: str | None) -> str:
    if value is None:
        return ""
    if value != value.strip() or "," in value or '"' in value:
        return '"' + value.replace('"', '""') + '"'
    return value


def write_sales_folder(
    directory: str, seed: int, n_rows: int, n_days: int = 40
) -> dict[str, int]:
    """Write ``n_days`` daily CSVs ``YYYY-MM-DD.csv`` plus ``notes.csv``
    holding ``n_rows`` rows in total; returns ``{"rows": n, "files": k}``.

    Keep-first order in the pipeline is (Audit_Date, Date), so within a
    Sale_ID group every non-identical row gets a distinct audit date:
    the valid output is then fully determined by the input.
    """
    rng = np.random.default_rng([seed, 1])
    os.makedirs(directory, exist_ok=True)
    start = dt.date(2025, 1, 1) + dt.timedelta(days=int(rng.integers(0, 60)))
    days = [(start + dt.timedelta(days=i)).isoformat() for i in range(n_days)]
    date_lo = dt.date(2023, 6, 1)
    n_date_days = (dt.date(2025, 5, 31) - date_lo).days + 1

    counts = {k: int(round(r * n_rows)) for k, r in SALES_CLASS_RATES.items()}
    n_notes = int(round(NOTES_RATE * n_rows))
    n_dup_groups = counts["dup_valid"] // 2
    n_null_pairs = counts["dup_null"] // 2
    n_single = n_rows - n_notes - 2 * n_dup_groups - 2 * n_null_pairs
    # each dup group takes one id for the group plus one per copy
    ids = iter(_sale_ids(rng, n_rows + 3 * n_dup_groups))

    files: dict[str, list[str]] = {d: [] for d in days}
    files[NOTES_FILE] = []

    def sale_date() -> str:
        return (date_lo + dt.timedelta(days=int(rng.integers(n_date_days)))).isoformat()

    def product() -> str:
        if rng.random() < 0.05:
            return "WIDGET"  # no dash: kept whole
        return f"{_PREFIXES[rng.integers(4)]}-{_LETTERS[rng.integers(26)]}"

    def currency() -> str:
        return "USD" if rng.random() < 0.65 else "EUR"

    def row(kind: str) -> list[str | None]:
        sid, prod = next(ids), product()
        amt = _amount(int(rng.integers(0, 60001)), currency())
        date: str | None = sale_date()
        if kind == "bare_amount":
            amt = _amount(int(rng.integers(0, 60001)), "")
        elif kind == "null_amount":
            amt = None
        elif kind == "null_date":
            date = None
        elif kind == "bad_date":
            date = ("not-a-date", "2024-13-45", "31/31/2024")[rng.integers(3)]
        elif kind == "null_product":
            prod = None
        elif kind == "null_sale_id":
            sid = None
        elif kind == "messy_case":
            sid = sid.lower()
            prod = f"  {prod.lower()} " if rng.random() < 0.5 else prod.capitalize()
        elif kind == "eur_tie":
            # cents = 10 (mod 20) makes cents*0.85 end in exactly .5
            amt = _amount(int(rng.integers(0, 3000)) * 20 + 10, "EUR")
        return [sid, prod, amt, date]

    kinds: list[str] = []
    for k, c in counts.items():
        if k not in ("dup_valid", "dup_null"):
            kinds += [k] * c
    kinds += ["clean"] * (n_single - len(kinds))
    for kind in kinds:
        files[days[rng.integers(n_days)]].append(row(kind))
    for _ in range(n_notes):
        files[NOTES_FILE].append(row("clean"))
    for _ in range(n_dup_groups):
        sid = next(ids)
        for d in rng.choice(n_days, size=2, replace=False).tolist():
            r = row("clean")
            r[0] = sid
            files[days[d]].append(r)
    for _ in range(n_null_pairs):
        r = row("null_amount")
        f = days[rng.integers(n_days)]
        files[f] += [r, list(r)]

    for name, rows in files.items():
        order = rng.permutation(len(rows)).tolist()
        lines = [SALES_HEADER] + [
            ",".join(_csv_field(v) for v in rows[i]) for i in order
        ]
        stem = name if name == NOTES_FILE else f"{name}.csv"
        with open(os.path.join(directory, stem), "w", encoding="utf-8", newline="") as fh:
            fh.write("\n".join(lines) + "\n")
    return {"rows": sum(len(r) for r in files.values()), "files": len(files)}


# ---------------------------------------------------------------------------
# Star schema
# ---------------------------------------------------------------------------

_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_P_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
_P_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
_P_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = ("en", "de", "es", "fr", "zh")
_LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)

_US_PER_DAY = 86_400_000_000


def _ts(days: np.ndarray, base: dt.date, micros: np.ndarray | None = None) -> pa.Array:
    epoch = (base - dt.date(1970, 1, 1)).days
    us = (days.astype(np.int64) + epoch) * _US_PER_DAY
    if micros is not None:
        us = us + micros
    return pa.array(us, type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(int(lo * 100), int(hi * 100) + 1, size=n) / 100.0


def _write(directory: str, name: str, table: pa.Table) -> None:
    pq.write_table(table, os.path.join(directory, f"{name}.parquet"), compression="snappy")


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """``n`` documents over a 30-word vocabulary; every 20th document is
    an earlier one with ' dup' appended (near-duplicate pairs)."""
    texts: list[str] = []
    for i in range(n):
        if i % 20 == 19 and i > 20:
            texts.append(texts[int(rng.integers(0, i - 1))] + " dup")
            continue
        k = int(rng.integers(10, 100))
        texts.append(" ".join(_WORDS[j] for j in rng.integers(0, len(_WORDS), size=k)))
    ids = np.arange(n, dtype=np.int64)
    return pa.table(
        {
            "doc_id": ids,
            "text": texts,
            "lang": [_LANGS[j] for j in rng.choice(5, size=n, p=_LANG_P)],
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    """Unit-norm float32 vectors scattered around ten label centroids."""
    centroids = rng.normal(size=(10, dim))
    label = rng.integers(0, 10, size=n).astype(np.int32)
    vec = centroids[label] + rng.normal(scale=1.5, size=(n, dim))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(vec.ravel()), dim).cast(
        pa.list_(pa.float32())
    )
    return pa.table(
        {"vec_id": np.arange(n, dtype=np.int64), "embedding": emb, "label": label}
    )


def write_corpus(directory: str, seed: int, n_docs: int, n_vecs: int) -> None:
    rng = np.random.default_rng([seed, 3])
    os.makedirs(directory, exist_ok=True)
    _write(directory, "documents", _documents(rng, n_docs))
    _write(directory, "embeddings", _embeddings(rng, n_vecs))


def write_star_schema(directory: str, seed: int, n_orders: int) -> dict[str, int]:
    """Write the ten tables sized from ``n_orders`` (150k orders is the
    shape of a 0.1 scale factor); returns row counts per table."""
    rng = np.random.default_rng([seed, 2])
    os.makedirs(directory, exist_ok=True)
    n_cust = max(150, n_orders // 10)
    n_supp = max(100, n_orders // 150)
    n_part = max(200, n_orders * 2 // 15)
    n_line = n_orders * 4
    n_events = n_orders * 2 // 3
    n_docs = max(500, n_orders // 30)
    n_vecs = max(500, n_orders // 75)

    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": list(_REGIONS)}
    )
    tables["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    tables["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, size=n_cust).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": [_SEGMENTS[j] for j in rng.integers(0, 5, size=n_cust)],
        }
    )
    tables["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, size=n_supp).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    pk = np.arange(n_part, dtype=np.int64)
    tables["part"] = pa.table(
        {
            "p_partkey": pk,
            "p_name": [
                f"{_P_ADJ[a]} {_P_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{j}" for j in rng.integers(1, 26, size=n_part)],
            "p_type": [_P_TYPES[j] for j in rng.integers(0, 6, size=n_part)],
            "p_size": rng.integers(1, 51, size=n_part).astype(np.int32),
            "p_retailprice": 900.0 + (pk % 1000) / 10.0,
        }
    )
    order_days = (dt.date(2001, 8, 1) - dt.date(1995, 1, 1)).days + 1
    tables["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_orders, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, size=n_orders).astype(np.int64),
            "o_orderstatus": [("F", "O", "P")[j] for j in rng.integers(0, 3, n_orders)],
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_orders),
            "o_orderdate": _ts(rng.integers(0, order_days, n_orders), dt.date(1995, 1, 1)),
            "o_orderpriority": [_PRIORITIES[j] for j in rng.integers(0, 5, n_orders)],
        }
    )
    ship_days = (dt.date(2001, 11, 4) - dt.date(1995, 1, 2)).days + 1
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n_orders, size=n_line).astype(np.int64),
            "l_partkey": rng.integers(0, n_part, size=n_line).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, size=n_line).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, size=n_line).astype(np.int32),
            "l_quantity": rng.integers(1, 51, size=n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 104999.99, n_line),
            "l_discount": rng.integers(0, 11, size=n_line) / 100.0,
            "l_tax": rng.integers(0, 9, size=n_line) / 100.0,
            "l_returnflag": [("A", "N", "R")[j] for j in rng.integers(0, 3, n_line)],
            "l_linestatus": [("F", "O")[j] for j in rng.integers(0, 2, n_line)],
            "l_shipdate": _ts(rng.integers(0, ship_days, n_line), dt.date(1995, 1, 2)),
        }
    )
    ev_us = np.sort(rng.integers(0, 30 * _US_PER_DAY, size=n_events))
    tables["events"] = pa.table(
        {
            "event_id": np.arange(n_events, dtype=np.int64),
            "ts": _ts(np.zeros(n_events, dtype=np.int64), dt.date(2024, 1, 1), ev_us),
            "user_id": rng.integers(0, 1500, size=n_events).astype(np.int64),
            "event_type": [_EVENT_TYPES[j] for j in rng.integers(0, 5, n_events)],
            "value": np.round(rng.exponential(60.0, size=n_events), 2).clip(0, 560.21),
            "props": [f'{{"k": {j}}}' for j in rng.integers(0, 100, n_events)],
        }
    )
    tables["documents"] = _documents(rng, n_docs)
    tables["embeddings"] = _embeddings(rng, n_vecs)
    for name, table in tables.items():
        _write(directory, name, table)
    return {name: t.num_rows for name, t in tables.items()}
