"""The one builder of hostile (poisoned) testdata directories.

``build(kind, src_sf, dst)`` writes the poisoned table(s) of ``kind``
into ``dst`` and copies every other testdata table from ``src_sf``
verbatim. The hostile suites (tests/test_hostile_*.py) and
``tools/hostile_sweep.py`` both build from here, so the sweep's
classification is made on exactly the rows the suites pin.
"""

from __future__ import annotations

import shutil

import duckdb

from etl_sales_pandas_sqlserver_spark.schemas import TESTDATA_TABLES

#: kind -> {table: rows appended to the source table}; ``{src}`` is the
#: source directory
_APPENDED: dict[str, dict[str, str]] = {
    # NULL ts / user_id / event_type / value+props
    "events": {"events": """
        UNION ALL SELECT 100001, NULL::TIMESTAMP, 7, 'view', 1.5, '{{}}'
        UNION ALL SELECT 100002, NULL::TIMESTAMP, 8, 'click', 2.5, '{{}}'
        UNION ALL SELECT 100003, TIMESTAMP '2024-03-02 05:00:00',
                         NULL, 'view', 1.0, '{{}}'
        UNION ALL SELECT 100004, TIMESTAMP '2024-03-02 06:00:00',
                         NULL, 'purchase', 3.0, '{{}}'
        UNION ALL SELECT 100005, TIMESTAMP '2024-03-02 07:00:00',
                         9, NULL, 4.0, '{{}}'
        UNION ALL SELECT 100006, TIMESTAMP '2024-03-02 08:00:00',
                         10, 'view', NULL, NULL
    """},
    # NaN/±inf/huge value doubles, epoch and far-future timestamps,
    # empty-string event_type
    "events_values": {"events": """
        UNION ALL SELECT 9200001, TIMESTAMP '1970-01-01 00:00:00', 7,
                         'view', 'nan'::DOUBLE, '{{}}'
        UNION ALL SELECT 9200002, TIMESTAMP '2199-12-31 23:59:59', 8,
                         'click', 'inf'::DOUBLE, '{{}}'
        UNION ALL SELECT 9200003, TIMESTAMP '2024-03-02 05:00:00', 9,
                         'purchase', '-inf'::DOUBLE, '{{}}'
        UNION ALL SELECT 9200004, TIMESTAMP '2024-03-02 06:00:00', 10,
                         '', 9.9e15, '{{}}'
        UNION ALL SELECT 9200005, TIMESTAMP '2024-03-02 07:00:00', 11,
                         'view', -9.9e15, '{{}}'
    """},
    # NULL doc_id / text / lang / source
    "documents": {"documents": """
        UNION ALL SELECT NULL,
          'null id doc with several tokens here', 'en', 'web', 37
        UNION ALL SELECT 900001, NULL, 'en', 'web', NULL
        UNION ALL SELECT 900002,
          'null lang doc with plenty of tokens', NULL, 'web', 35
        UNION ALL SELECT 900003,
          'null source doc with plenty of tokens', 'en', NULL, 37
    """},
    # vertical-tab (U+000B) text, the character the engines' \s
    # disagree on: \x0B inside words (token-count sensitive), and doc
    # 1's text with every space swapped for \x0B (fingerprint-collision
    # sensitive)
    "documents_vtab": {"documents": """
        UNION ALL SELECT 910001,
          'alpha' || chr(11) || 'beta gamma' || chr(11) ||
          'delta epsilon zeta eta theta',
          'en', 'web', 40
        UNION ALL SELECT 910002,
          (SELECT replace(text, ' ', chr(11))
           FROM '{src}/documents.parquet' WHERE doc_id = 1),
          'en', 'web', 40
    """},
    # the lowest doc_id duplicated with DIFFERENT text
    "documents_dupid": {"documents": """
        UNION ALL (SELECT doc_id,
          'different text for the duplicated id with enough tokens',
          lang, source, 55
        FROM '{src}/documents.parquet' ORDER BY doc_id LIMIT 1)
    """},
    # NULL keys, dates, prices, statuses and names
    "tpch": {
        "orders": """
            UNION ALL SELECT 9000001, 1, 'O', 1234.56,
                             NULL::TIMESTAMP, '3-MEDIUM'
            UNION ALL SELECT 9000002, NULL, 'F', 2345.67,
                             TIMESTAMP '1995-06-15', '1-URGENT'
            UNION ALL SELECT 9000003, 2, NULL, NULL,
                             TIMESTAMP '1995-07-15', NULL
        """,
        "lineitem": """
            UNION ALL SELECT 9000001, 1, 1, 1, NULL, 100.0, 0.05, 0.02,
                             'N', 'O', NULL::TIMESTAMP
            UNION ALL SELECT 9000002, 2, 2, 1, 5.0, NULL, NULL, NULL,
                             NULL, NULL, TIMESTAMP '1995-06-20'
        """,
        "customer": """
            UNION ALL SELECT 9000001, NULL, 1, NULL, NULL
        """,
    },
    # negative/zero/huge money, >1 and negative rates, epoch/far-future
    # dates, out-of-domain flags, empty strings, a quoted unicode name
    "tpch_values": {
        "orders": """
            UNION ALL SELECT 9100001, 1, 'O', 9900000000000.99,
                             TIMESTAMP '1970-01-01', '1-URGENT'
            UNION ALL SELECT 9100002, 2, 'X', -54321.99,
                             TIMESTAMP '2099-12-31', ''
        """,
        "lineitem": """
            UNION ALL SELECT 9100001, 1, 1, 1, -3.0, -100.25, 1.5, -0.1,
                             'Z', '?', TIMESTAMP '1970-01-01'
            UNION ALL SELECT 9100001, 2, 2, 2, 0.0, 9900000000000.99,
                             0.999999, 0.999999, 'N', 'O',
                             TIMESTAMP '2099-12-31'
            UNION ALL SELECT 9100002, 3, 3, 1, 0.000001, 0.0, 0.0, 0.0,
                             'A', 'F', TIMESTAMP '1992-01-01'
        """,
        "customer": """
            UNION ALL SELECT 9100001, 'Cust''omer "quoted" über', 1,
                             -99999.99, ''
        """,
    },
}

#: embedding kinds: the last two vectors replaced, given the dimension
_VECTORS = {
    # zero-norm (cosine undefined) + a NULL element
    "embeddings": lambda dim: ([0.0] * dim, [None] + [0.1] * (dim - 1)),
    # zero-norm + a true NaN element
    "embeddings_nan": lambda dim: (
        [0.0] * dim, [float("nan")] + [0.1] * (dim - 1)
    ),
    # empty + wrong-dimension vectors (the fixed-dim contract violation)
    "embeddings_ragged": lambda dim: ([], [0.25] * (dim // 2)),
}

KINDS = sorted([*_APPENDED, *_VECTORS])


def build(kind: str, src_sf: str, dst) -> str:
    """Write ``kind``'s poisoned tables into ``dst``, copy the rest of
    ``src_sf`` there, and return ``dst`` as a string."""
    dst = str(dst)
    if kind in _APPENDED:
        poisoned = set(_APPENDED[kind])
        con = duckdb.connect()
        if kind == "documents_vtab":
            # doc 910002 is doc 1's \x0B-for-space twin: the collision
            # test is vacuous (twin == original) unless doc 1 exists and
            # contains a space. Fail HERE, not in a fingerprint assert.
            pre = con.execute(
                f"SELECT text FROM '{src_sf}/documents.parquet' "
                "WHERE doc_id = 1"
            ).fetchall()
            assert len(pre) == 1 and pre[0][0] and " " in pre[0][0], (
                "vtab fixture precondition: doc_id 1 must exist and "
                "contain at least one space (doc 910002 is built as its "
                "\\x0B-for-space twin)"
            )
        for t, rows in _APPENDED[kind].items():
            src, out = f"{src_sf}/{t}.parquet", f"{dst}/{t}.parquet"
            con.execute(
                f"COPY (SELECT * FROM '{src}' {rows.format(src=src_sf)}) "
                f"TO '{out}' (FORMAT PARQUET)"
            )
            # rows are only appended: the table must outgrow its source
            n_src = con.execute(f"SELECT count(*) FROM '{src}'").fetchone()[0]
            n_out = con.execute(f"SELECT count(*) FROM '{out}'").fetchone()[0]
            assert n_out > n_src, (kind, t, n_src, n_out)
    elif kind in _VECTORS:
        import pyarrow as pa
        import pyarrow.parquet as pq

        poisoned = {"embeddings"}
        tbl = pq.read_table(f"{src_sf}/embeddings.parquet")
        embs = [[v.as_py() for v in row] for row in tbl.column("embedding")]
        embs[-1], embs[-2] = _VECTORS[kind](len(embs[0]))
        pq.write_table(
            tbl.set_column(
                tbl.schema.get_field_index("embedding"),
                "embedding",
                pa.array(embs, pa.list_(pa.float32())),
            ),
            f"{dst}/embeddings.parquet",
        )
    else:
        raise ValueError(f"unknown hostile kind {kind!r}; one of {KINDS}")
    for t in TESTDATA_TABLES:
        if t not in poisoned:
            shutil.copy(f"{src_sf}/{t}.parquet", f"{dst}/{t}.parquet")
    return dst
