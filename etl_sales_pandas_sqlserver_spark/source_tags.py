"""Cheap content tags for memo keys.

``cache.session_checkpoint_memo`` keys on (session, logical key) only;
round-8 advice flagged the stale-read surface that leaves: a
same-session caller that REWRITES the parquet files under a reused
``sf_dir`` (scale smokes, fixture-mutating tests) silently reads the
old checkpoint unless it remembers to call ``evict_session_memos``.
Folding a (path, mtime_ns, size) tag of the memo's source files into
the key makes a rewrite MISS the memo automatically -- the same
convention ``sources/partitioned.py`` uses to fingerprint its layout
builds.
"""

from __future__ import annotations

import os


def sf_content_tag(sf_dir: str, *tables: str) -> tuple:
    """Stat-level tag of ``{sf_dir}/{table}.parquet`` for each table.

    A parquet path may be a single file or a directory of part files;
    for directories the tag folds in each child's (name, mtime_ns,
    size), which changes whenever Spark rewrites the dataset (part
    files are replaced, never edited in place). Missing paths tag as
    None so a memo built against an absent source misses once the
    source appears.
    """
    out: list[tuple] = []
    for t in tables:
        p = os.path.join(os.path.normpath(sf_dir), f"{t}.parquet")
        out.append((t, _path_tag(p)))
    return tuple(out)


def _path_tag(p: str):
    # st_ino is folded in alongside (mtime_ns, size): on filesystems
    # with coarse mtime granularity a same-size replace within one
    # timestamp tick would otherwise tag identically and serve a stale
    # memo (r9 advice). A replaced file is a new inode; only a literal
    # in-place overwrite reuses one, and parquet writers always write
    # a new file then rename.
    try:
        st = os.stat(p)
    except OSError:
        return None
    if not os.path.isdir(p):
        return (st.st_ino, st.st_mtime_ns, st.st_size)
    children = []
    try:
        for name in sorted(os.listdir(p)):
            try:
                cst = os.stat(os.path.join(p, name))
            except OSError:
                continue
            children.append((name, cst.st_ino, cst.st_mtime_ns, cst.st_size))
    except OSError:
        pass
    return tuple(children)
