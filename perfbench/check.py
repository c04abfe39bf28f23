"""Correctness checks: order-insensitive value hashes against the oracles."""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import math

import duckdb
import numpy as np
import pandas as pd


def _canon(v) -> str:
    """Type-kind-tagged text of one value, so int 1, float 1.0 and the
    string '1' never hash alike; timestamps compare as naive UTC."""
    if v is None or v is pd.NaT:
        return "~"
    if isinstance(v, (bool, np.bool_)):
        return f"b{int(v)}"
    if isinstance(v, (int, np.integer)):
        return f"i{int(v)}"
    if isinstance(v, (float, np.floating)):
        return "~" if math.isnan(v) else f"f{float(v)!r}"
    if isinstance(v, decimal.Decimal):
        return f"d{v.normalize()}"
    if isinstance(v, pd.Timestamp):
        return f"t{(v.tz_convert(None) if v.tzinfo else v).isoformat()}"
    if isinstance(v, dt.datetime):
        return f"t{(v.astimezone(dt.timezone.utc).replace(tzinfo=None) if v.tzinfo else v).isoformat()}"
    if isinstance(v, dt.date):
        return f"D{v.isoformat()}"
    if isinstance(v, (bytes, bytearray)):
        return f"x{bytes(v).hex()}"
    if isinstance(v, dict):
        return "{" + ",".join(f"{_canon(k)}:{_canon(x)}" for k, x in sorted(v.items())) + "}"
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    return f"s{v}"


def value_hash(pdf: pd.DataFrame) -> tuple[int, tuple[str, ...], str]:
    """(rows, sorted column names, hash) of a result. The hash is the sum
    of per-row digests mod 2**64: independent of row and column order,
    sensitive to every value and to duplicate rows."""
    cols = tuple(sorted(pdf.columns))
    total = 0
    for row in pdf[list(cols)].itertuples(index=False, name=None):
        digest = hashlib.blake2b("\x1f".join(map(_canon, row)).encode(), digest_size=8).digest()
        total = (total + int.from_bytes(digest, "little")) % (1 << 64)
    return len(pdf), cols, f"{total:016x}"


class Oracle:
    """DuckDB over the same generated Parquet tables the engine reads."""

    def __init__(self, data_dir: str, tables: tuple[str, ...], threads: int):
        self.con = duckdb.connect()
        self.con.execute(f"SET threads TO {threads}")
        for t in tables:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
            )

    def result(self, sql: str) -> pd.DataFrame:
        return self.con.execute(sql).df()

    def close(self) -> None:
        self.con.close()


def mismatch(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when both results hash equal, else what differs."""
    g, w = value_hash(got), value_hash(want)
    if g == w:
        return None
    if g[0] != w[0]:
        return f"rows {g[0]} != oracle {w[0]}"
    if g[1] != w[1]:
        return f"columns {list(g[1])} != oracle {list(w[1])}"
    return f"value hash {g[2]} != oracle {w[2]}"
