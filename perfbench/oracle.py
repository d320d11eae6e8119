"""Order-insensitive comparison of collected Spark rows with a DuckDB
oracle result, and a digest of the same canonical form.  Both sides are
plain Python values (Spark `collect()`, DuckDB `fetchall()`).

Canonical form: columns sorted by name, every cell mapped to a
type-tagged exact value (floats by `repr`, timestamps ISO, arrays as
tuples), rows sorted.  Two results are equal when their canonical forms
are; the digest is the SHA-256 of that form.

One difference is not a wrong answer: a `round(x, k)` whose exact `x`
sits on a half boundary.  Spark rounds the shortest decimal form of the
double half-up, DuckDB rounds the binary value, so on a sum such as
1200049.525 (exact in decimal, just below it in binary) Spark returns
.53 and DuckDB .52.  Both are roundings of the exact value.  `compare`
accepts such a pair only after re-running the oracle with its `round`s
removed and finding the exact midpoint of the two values there.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import math
import os
import re
from decimal import Decimal


def _canon(v):
    if v is None:
        return None
    if hasattr(v, "asDict"):  # pyspark Row (struct)
        v = v.asDict(recursive=False)
    if isinstance(v, dict):
        return tuple(sorted((k, _canon(x)) for k, x in v.items()))
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else ("f", repr(v))
    if isinstance(v, Decimal):
        return ("f", repr(float(v)))
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc)
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return ("b", bytes(v).hex())
    if isinstance(v, bool):
        return ("i", int(v))
    if isinstance(v, int):
        return ("i", v)
    return v


def canon_rows(columns: list[str], rows) -> list[tuple]:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [tuple(_canon(row[i]) for i in order) for row in rows]
    out.sort(key=lambda r: tuple(repr(x) for x in r))
    return [tuple(columns[i] for i in order)] + out


def spark_canon(rows, columns: list[str]) -> list[tuple]:
    return canon_rows(columns, [tuple(r) for r in rows])


def duckdb_canon(con, sql: str) -> list[tuple]:
    """Run `sql` and canonicalize its rows as Python values (None for
    NULL, like Spark's collect)."""
    cur = con.execute(sql)
    return canon_rows([d[0] for d in cur.description], cur.fetchall())


def digest(canon: list[tuple]) -> str:
    return hashlib.sha256(repr(canon).encode()).hexdigest()


def duckdb_con(sf_dir: str):
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for name in sorted(os.listdir(sf_dir)):
        table, ext = os.path.splitext(name)
        if ext == ".parquet":
            path = os.path.join(sf_dir, name)
            con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{path}')")
    return con


def mismatch(spark: list[tuple], oracle: list[tuple]) -> str | None:
    """None when equal, else a one-line description of the first difference."""
    if spark[0] != oracle[0]:
        return f"columns {spark[0]} != {oracle[0]}"
    if len(spark) != len(oracle):
        return f"row count {len(spark) - 1} != {len(oracle) - 1}"
    for i, (s, o) in enumerate(zip(spark[1:], oracle[1:])):
        if s != o:
            return f"row {i}: {s} != {o}"
    return None


_ROUND = re.compile(r"\bround\s*\(", re.IGNORECASE)


def unrounded(sql: str) -> str:
    """`sql` with every two-argument `round(x, k)` replaced by `(x)`."""
    out, i = [], 0
    while m := _ROUND.search(sql, i):
        depth, j, comma = 1, m.end(), None
        while depth:
            c = sql[j]
            depth += (c == "(") - (c == ")")
            if c == "," and depth == 1:
                comma = j
            j += 1
        if comma is None:
            out.append(sql[i:j])
        else:
            out.append(f"{sql[i:m.start()]}({unrounded(sql[m.end():comma])})")
        i = j
    out.append(sql[i:])
    return "".join(out)


def _is_float(cell) -> bool:
    return isinstance(cell, tuple) and len(cell) == 2 and cell[0] == "f"


def _half_tie(a, b) -> Decimal | None:
    """The midpoint of two float cells that are one unit apart in their
    last decimal place (the two roundings of a half boundary), else None."""
    if not (_is_float(a) and _is_float(b)) or "e" in a[1] + b[1]:
        return None
    da, db = Decimal(a[1]), Decimal(b[1])
    places = max(-da.as_tuple().exponent, -db.as_tuple().exponent)
    if abs(da - db) != Decimal(1).scaleb(-places):
        return None
    return (da + db) / 2


def compare(con, sql: str, got: list[tuple]) -> tuple[str | None, list[str]]:
    """Compare canonical Spark rows with the oracle `sql`.  Returns the
    first difference (None when the results agree) and a note for each
    half-boundary rounding accepted."""
    want = duckdb_canon(con, sql)
    bad = mismatch(got, want)
    if bad is None or got[0] != want[0] or len(got) != len(want):
        return bad, []
    ties = []
    for s_row, o_row in zip(got[1:], want[1:]):
        for col, (s, o) in enumerate(zip(s_row, o_row)):
            if s != o:
                mid = _half_tie(s, o)
                if mid is None:
                    return bad, []
                ties.append((o_row, col, mid))
    exact = duckdb_canon(con, unrounded(sql))[1:]
    notes = []
    for o_row, col, mid in ties:
        keys = [j for j, cell in enumerate(o_row) if j != col and not _is_float(cell)]
        tol = Decimal("1e-9") * max(1, abs(mid))
        if not any(
            all(r[j] == o_row[j] for j in keys)
            and _is_float(r[col])
            and abs(Decimal(r[col][1]) - mid) <= tol
            for r in exact
        ):
            return f"{bad}; unrounded value is not their midpoint", []
        notes.append(f"{got[0][col]}: half-boundary {mid} rounded both ways")
    return None, notes
