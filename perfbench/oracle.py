"""Result checks against the registry's DuckDB oracles.

A result matches its oracle when row count, column names and an
order-insensitive exact value hash agree -- the comparison the engine's
correctness gate makes (cells stringified without tolerance, midnight
timestamps compared in their date form).
"""
from __future__ import annotations

import hashlib
import math
import os

import duckdb
import numpy as np
import pandas as pd

from bacalhau_spark.catalog import TABLES


def _cell(v) -> str:
    if v is None or v is pd.NaT:
        return "\\N"
    if isinstance(v, (float, np.floating)):
        f = float(v)
        return "\\N" if math.isnan(f) else repr(f)
    if isinstance(v, (bool, np.bool_)):
        return str(bool(v))
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    if isinstance(v, pd.Timestamp):
        if v.tz is None and (v.hour, v.minute, v.second, v.microsecond,
                             v.nanosecond) == (0,) * 5:
            return v.date().isoformat()
        return v.tz_localize(None).isoformat() if v.tz else v.isoformat()
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_cell(x)}"
                              for k, x in sorted(v.items())) + "}"
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    return str(v)


def frame_hash(df: pd.DataFrame) -> str:
    df = df[sorted(df.columns)]
    rows = sorted("\x1f".join(_cell(v) for v in row)
                  for row in df.itertuples(index=False))
    h = hashlib.sha256()
    for r in rows:
        h.update(r.encode())
        h.update(b"\x1e")
    return h.hexdigest()


class Oracle:
    """DuckDB over the tables present in one input directory; a table may
    be a single parquet file or a directory of part files."""

    def __init__(self, sf_dir: str) -> None:
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 1")
        for t in TABLES:
            p = os.path.join(sf_dir, f"{t}.parquet")
            if not os.path.exists(p):
                continue
            src = os.path.join(p, "*.parquet") if os.path.isdir(p) else p
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                             f"read_parquet('{src}')")

    def frame(self, sql: str) -> pd.DataFrame:
        return self.con.execute(sql).fetchdf()

    def close(self) -> None:
        self.con.close()


def mismatch(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when the frames match, else a short reason."""
    if len(got) != len(want):
        return f"rows {len(got)} != oracle {len(want)}"
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    if frame_hash(got) != frame_hash(want):
        return "value hash differs"
    return None
