"""Reference answers and the order-insensitive digest outputs are checked by.

Kernel operations are answered by an exact DuckDB formulation written
here (prefix filtering over DuckDB's own token ranks, then full-set
verification); it never calls the Spark kernel. Registry keys are
answered by the registry's own ``ORACLES`` SQL, unedited.
"""

from __future__ import annotations

import hashlib
import json
import math
from pathlib import Path

import duckdb
import numpy as np
import pandas as pd

# Per-record overlap rate r with |x ∩ y| >= r * |x| for every qualifying
# pair; any global token order then puts a shared token in both
# (|x| - ceil(r|x|) + 1)-prefixes.
#   jaccard >= t  =>  |x∩y| >= t |x ∪ y| >= t |x|
#   dice >= t     =>  |x∩y| >= t/(2-t) |x|
#   cosine >= t   =>  |x∩y| >= t^2 |x|
_RATE = {
    "jaccard": lambda t: t,
    "dice": lambda t: t / (2.0 - t),
    "cosine": lambda t: t * t,
}

# Same IEEE operations, in the same order, as the kernel's verify step.
_SIM = {
    "jaccard": "CAST(i AS DOUBLE) / (CAST(s1.n AS DOUBLE) + CAST(s2.n AS DOUBLE) - CAST(i AS DOUBLE))",
    "dice": "CAST(2 AS DOUBLE) * CAST(i AS DOUBLE) / (CAST(s1.n AS DOUBLE) + CAST(s2.n AS DOUBLE))",
    "cosine": "CAST(i AS DOUBLE) / sqrt(CAST(s1.n AS DOUBLE) * CAST(s2.n AS DOUBLE))",
}


def kernel_sql(measure: str, threshold: float, rs: bool) -> str:
    """Exact (id1, id2, sim) for a self-join (id1 < id2) or the even/odd
    doc_id R-S join (id1 even, id2 odd) over the ``documents`` view."""
    rate = _RATE[measure](threshold)
    pair = (
        "a.doc_id % 2 = 0 AND b.doc_id % 2 = 1" if rs else "a.doc_id < b.doc_id"
    )
    return f"""
WITH tok AS (
  SELECT DISTINCT doc_id, t.tok
  FROM documents, unnest(string_split(lower(text), ' ')) AS t(tok)
  WHERE t.tok <> ''
),
rk AS (SELECT tok, row_number() OVER (ORDER BY count(*), tok) AS r FROM tok GROUP BY tok),
pos AS (
  SELECT doc_id, r,
         count(*) OVER (PARTITION BY doc_id) AS n,
         row_number() OVER (PARTITION BY doc_id ORDER BY r) AS k
  FROM tok JOIN rk USING (tok)
),
pre AS (SELECT doc_id, r FROM pos WHERE k <= n - ceil(n * {rate!r} - 1e-9) + 1),
cand AS (
  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
  FROM pre a JOIN pre b ON a.r = b.r WHERE {pair}
),
inter AS (
  SELECT c.id1, c.id2, count(*) AS i
  FROM cand c
  JOIN tok x ON x.doc_id = c.id1
  JOIN tok y ON y.doc_id = c.id2 AND y.tok = x.tok
  GROUP BY 1, 2
),
sz AS (SELECT doc_id, count(*) AS n FROM tok GROUP BY doc_id),
scored AS (
  SELECT id1, id2, {_SIM[measure]} AS sim
  FROM inter JOIN sz s1 ON s1.doc_id = id1 JOIN sz s2 ON s2.doc_id = id2
)
SELECT id1, id2, sim FROM scored WHERE sim >= CAST({threshold!r} AS DOUBLE)
"""


def duck(sf_dir: Path) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf_dir / 'documents.parquet'}')"
    )
    return con


def _canon(v) -> str:
    """One spelling per value, whichever engine produced it: integral
    numbers as ints, other floats by their shortest round-trip repr (so
    the float bits must agree), timestamps as ISO text, sequences
    element-wise."""
    if v is None or (isinstance(v, float) and math.isnan(v)) or v is pd.NaT:
        return "null"
    if isinstance(v, (bool, np.bool_)):
        return str(bool(v))
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    if isinstance(v, (float, np.floating)):
        f = float(v)
        return str(int(f)) if f.is_integer() and abs(f) < 2**53 else repr(f)
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if isinstance(v, (pd.Timestamp, np.datetime64)):
        ts = pd.Timestamp(v)
        return (ts.tz_convert(None) if ts.tzinfo else ts).isoformat()
    if hasattr(v, "is_nan") and hasattr(v, "as_tuple"):  # decimal.Decimal
        return _canon(float(v))
    return str(v)


def digest(frame: pd.DataFrame) -> dict:
    """Row count plus a hash that ignores row and column order."""
    cols = sorted(frame.columns)
    rows = sorted(
        "\x1f".join(_canon(v) for v in row)
        for row in zip(*(frame[c].tolist() for c in cols))
    )
    h = hashlib.sha256("\x1f".join(cols).encode())
    for r in rows:
        h.update(r.encode())
        h.update(b"\x1e")
    return {"rows": len(rows), "hash": h.hexdigest()}


def cached(path: Path, compute) -> dict:
    """``compute()`` once per path; later runs with the same seed and
    workload shape read the stored answers."""
    if path.exists():
        return json.loads(path.read_text())
    val = compute()
    path.parent.mkdir(parents=True, exist_ok=True)
    tmp = path.with_suffix(".tmp")
    tmp.write_text(json.dumps(val))
    tmp.replace(path)
    return val
