"""DuckDB oracle, the result comparison rule and the check of a run.

The rule is the one ``tools/check_oracle.py`` applies: equal row count,
equal column names (case-insensitive, order-free) and equal multisets of
normalised rows, with floats compared by ``repr``.  ``positional=True``
compares columns by position instead of by name; the ad-hoc stream uses
it because an RA projection names its output columns differently from
the SQL twin (``s1.s_suppkey`` and ``s2.s_suppkey`` both come out as
``s_suppkey``).

Rows read back from parquet carry types ``collect()`` does not produce
(tz-aware timestamps, ``bytes``); ``normalize`` maps both paths to the
same text.

``check`` runs in ``run.py`` after the measured client has exited, so the
oracle's memory and CPU never count in the client's metrics.
"""

from __future__ import annotations

import datetime as _dt
import os
import pickle
from collections import Counter


def connect(data_dir: str):
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO 1")
    for f in sorted(os.listdir(data_dir)):
        if f.endswith(".parquet"):
            path = os.path.join(data_dir, f)
            con.execute(f"CREATE OR REPLACE VIEW {f[:-8]} AS SELECT * FROM '{path}'")
    return con


def run(con, sql: str) -> tuple[list[str], list[tuple]]:
    rel = con.sql(sql)
    return list(rel.columns), rel.fetchall()


def normalize(v) -> str:
    if isinstance(v, float):
        return f"{v!r}"
    if isinstance(v, (bytes, bytearray, memoryview)):
        return bytes(v).hex()
    if isinstance(v, _dt.datetime) and v.tzinfo is not None:
        v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
    if hasattr(v, "asDict"):  # a pyspark Row (struct); DuckDB returns a dict
        v = v.asDict()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(normalize(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{normalize(x)}" for k, x in sorted(v.items())) + "}"
    return str(v)


def _multiset(rows, order) -> Counter:
    return Counter("\x1f".join(normalize(r[i]) for i in order) for r in rows)


def compare(got_cols, got_rows, want_cols, want_rows, positional: bool = False) -> str | None:
    """``None`` when the results agree, else a one-line reason."""
    if len(got_cols) != len(want_cols):
        return f"columns: got {list(got_cols)} want {list(want_cols)}"
    if positional:
        gi = wi = list(range(len(got_cols)))
    else:
        if sorted(c.lower() for c in got_cols) != sorted(c.lower() for c in want_cols):
            return f"columns: got {sorted(got_cols)} want {sorted(want_cols)}"
        gi = sorted(range(len(got_cols)), key=lambda i: got_cols[i].lower())
        wi = sorted(range(len(want_cols)), key=lambda i: want_cols[i].lower())
    if len(got_rows) != len(want_rows):
        return f"row count: got {len(got_rows)} want {len(want_rows)}"
    g, w = _multiset(got_rows, gi), _multiset(want_rows, wi)
    if g != w:
        extra = sum((g - w).values())
        return f"values: {extra} of {len(got_rows)} rows differ"
    return None


def read_parquet_dir(path: str) -> tuple[list[str], list[tuple]]:
    """Rows a parquet sink wrote, in ``collect()``-comparable form."""
    import pyarrow.parquet as pq

    files = sorted(
        os.path.join(path, f) for f in os.listdir(path)
        if f.endswith(".parquet") and not f.startswith((".", "_"))
    )
    cols: list[str] = []
    rows: list[tuple] = []
    for f in files:
        t = pq.read_table(f)
        cols = t.column_names
        rows.extend(zip(*(t.column(c).to_pylist() for c in cols)) if t.num_rows else ())
    return cols, rows


def load_result(path: str) -> tuple[list[str], list[tuple]]:
    """A timed input's result as the client left it: a pickled
    ``(columns, rows)`` of a ``collect()``, or a parquet sink's directory."""
    if os.path.isdir(path):
        return read_parquet_dir(path)
    with open(path, "rb") as f:
        return pickle.load(f)


def check(items: list[dict], data_dir: str, positional: bool) -> list[str]:
    """Compare every result with its oracle; one line per failure.  Each
    item names ``qid``, ``sql`` (the oracle) and ``result`` (a path).  An
    oracle or read-back that raises is a failure, not a crash."""
    con, cache, failures = None, {}, []
    for it in items:
        try:
            if con is None:
                con = connect(data_dir)
            if it["sql"] not in cache:
                cache[it["sql"]] = run(con, it["sql"])
            cols, rows = load_result(it["result"])
            why = compare(cols, rows, *cache[it["sql"]], positional=positional)
        except Exception as e:
            why = f"check raised {type(e).__name__}: {str(e)[:200]}"
        if why:
            failures.append(f"{it['qid']}: {why}")
    return failures
