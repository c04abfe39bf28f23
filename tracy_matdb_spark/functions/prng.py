"""Portable counter-based deterministic PRNG as Spark Column expressions.

Why this exists. The reference seeds a *global* numpy RNG
(reference: matdb/database/__init__.py:1640-1642, distortion.py:224,
vacancy.py:306) which is ill-defined under distributed execution: task
retry, speculative execution, and partition order would all change the
stream. The Spark-native replacement is a counter-based generator: every
random draw is a pure function of (seed, key, counter), so any executor
can compute any row's randomness independently, with no state, no
shuffle, and bit-for-bit reproducibility at any parallelism.

The hash core is md5 over a canonical string, with the first 15 hex
digits read as a base-16 integer (< 2^60, safely inside BIGINT). md5 is
available both in Spark (`md5` + `conv`) and in DuckDB
(`('0x' || substr(md5(..), 1, 15))::bigint`), so every generator built
on it is *oracle-checkable*: the duckdb SQL reproduces the Spark output
exactly. All of it runs JVM-side inside whole-stage codegen — no Python
UDFs in the generation hot path.

Draw derivations:
    u01   uniform in [0, 1):  h / 2^60
    gauss standard normal:    Irwin-Hall sum of 12 uniforms - 6
                              (exact-parity-friendly; tails clipped at
                              ~6 sigma which is fine for lattice noise)
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

TWO60 = float(2**60)


def _canon(parts: list[Column | str | int]) -> Column:
    cols = [p if isinstance(p, Column) else F.lit(p) for p in parts]
    return F.concat_ws("|", *[c.cast("string") for c in cols])


def hash60(*parts: Column | str | int) -> Column:
    """Deterministic BIGINT in [0, 2^60) from the canonical '|'-joined parts.

    DuckDB equivalent: ('0x' || substr(md5(concat_ws('|', ...)), 1, 15))::bigint
    """
    return F.conv(F.substring(F.md5(_canon(list(parts))), 1, 15), 16, 10).cast("bigint")


def u01(*parts: Column | str | int) -> Column:
    """Deterministic uniform double in [0, 1)."""
    return hash60(*parts) / F.lit(TWO60)


def gauss(*parts: Column | str | int) -> Column:
    """Deterministic ~N(0,1) via Irwin-Hall (sum of 12 uniforms - 6).

    Each of the 12 uniforms extends the key with a draw index so the
    streams are independent.
    """
    total = F.lit(0.0)
    for i in range(12):
        total = total + u01(*parts, f"g{i}")
    return total - F.lit(6.0)


# ---- DuckDB SQL fragment builders (oracle side of the same functions) ----


def sql_hash60(canon_expr: str) -> str:
    """DuckDB fragment computing hash60 over an already-canonicalized string expr."""
    return f"(('0x' || substr(md5({canon_expr}), 1, 15))::bigint)"


def sql_u01(canon_expr: str) -> str:
    return f"({sql_hash60(canon_expr)} / cast(1152921504606846976 as double))"
