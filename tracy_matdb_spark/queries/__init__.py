"""Query registry: every operator's demo query + its DuckDB oracle SQL.

Each entry registered here is surfaced through ``__spark_entry__.py``:
``queries()[name]`` runs the Spark implementation, ``oracle_sql()[name]``
is the ANSI-SQL equivalent DuckDB runs on the same parquet tables. The
driver hash-compares both at sf0.01 (CORRECTNESS gate); names/aliases of
output columns must match exactly on both sides.

Entries with ``oracle=None`` are genuinely non-SQL-expressible (e.g.
eigendecomposition UDTFs) and get the driver's weaker rows-only check.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass
class Query:
    name: str
    fn: QueryFn
    oracle: str | None
    headline: bool = False  # included in bench.py's timed set
    doc: str = ""
    # Scale-dependent oracle: f(sf_dir) -> SQL, for queries whose plan
    # is footer-stat-gated (e.g. embedding-LSH band widening). The
    # static ``oracle`` stays the driver-facing string (the gate is 0
    # at every driver SF); local parity tools prefer ``oracle_fn`` so
    # hash parity holds at sf1+ too, not only below the gate.
    oracle_fn: Callable[[str], str] | None = None


REGISTRY: dict[str, Query] = {}

# Queries whose SEMANTICS (and oracle) changed after earlier rounds
# recorded green rows: name -> first round whose CORRECTNESS rows are
# still valid. Earlier rows are ignored by the ordering, so the driver
# re-verifies the new semantics instead of trusting a stale green.
INVALIDATED_BEFORE: dict[str, int] = {
    "simhash_near_dup": 4,  # 16-bit/4-bit-band simhash -> 48-bit/12-bit-band
    # r13 rewrote the PSI fold to per-term micro-quantization (floor
    # BEFORE the sum, integer addition thereafter) — psi_micro/drift_micro
    # values differ from the old floor-of-ordered-sum, so greens recorded
    # before r13 verified the OLD semantics and must not be trusted.
    "psi_source_drift": 13,
    "events_type_psi_stream": 13,
    # r14 moved sum_value_c to per-event cents quantization (sum of
    # integers, fold-order free) from floor-of-float-sum, in both the
    # Spark plans and the oracles — values can differ by +/-1 cent-unit.
    "events_tumbling_1h": 14,
    "events_sliding_1h_30m": 14,
    "events_gap_fill_hourly": 14,
    # r14 (late): the stateful family's STATE folds moved to per-event
    # cents too (int state, not float-sum + round-at-emit), in both the
    # processors and the oracles — round vs floor can differ per event.
    "events_stateful_totals": 14,
    "events_stateful_totals_tws": 14,
    # r14 (late): the last floor-of-float-sum money folds moved to
    # per-row micro-quantization + integer division at emit, in both
    # the Spark plans and the oracles — boundary rows can differ.
    "q6_revenue_forecast": 14,
    "pipe_syntax_pricing": 14,
}


def register(
    name: str,
    oracle: str | None,
    headline: bool = False,
    doc: str = "",
    oracle_fn: Callable[[str], str] | None = None,
):
    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        REGISTRY[name] = Query(
            name=name,
            fn=fn,
            oracle=oracle,
            headline=headline,
            doc=doc or (fn.__doc__ or ""),
            oracle_fn=oracle_fn,
        )
        return fn

    return deco


def _driver_history(root: str | None = None) -> tuple[set[str], dict[str, int]]:
    """(green names, last-green-round map) from the CORRECTNESS_r*.json
    files the driver has written at the repo root.

    Used only to ORDER the registry: the driver checks ~50 queries per
    round, so queries still lacking a green row are surfaced first to
    drain the verification backlog, and among the greens the LEAST
    RECENTLY checked surface first so cumulative staleness stays bounded
    at ~ceil(registry/50) rounds instead of growing forever (round-7
    verdict item #5). Red rows do NOT count as green — a failed query
    must be re-surfaced until its row turns green. A ``no_oracle`` row
    counts as green only while the query's CURRENT registration still
    has ``oracle=None``: once an oracle is added, the old rows-only row
    is stale and the query must surface for a real hash check (the
    round-3 verdict's ordering bug).
    """
    import glob
    import json
    import os
    import re

    if root is None:
        root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    green: set[str] = set()
    last_green: dict[str, int] = {}
    for path in glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        rnd = int(m.group(1)) if m else 0
        try:
            with open(path) as fh:
                rows = json.load(fh)
        except (OSError, ValueError):
            continue
        for name, row in rows.items():
            if not isinstance(row, dict):
                continue
            if rnd < INVALIDATED_BEFORE.get(name, 0):
                continue  # row predates a semantics change
            ok = row.get("hash_match") is True
            if not ok and row.get("err") == "no_oracle":
                q = REGISTRY.get(name)
                ok = q is not None and q.oracle is None
            if ok:
                green.add(name)
                last_green[name] = max(last_green.get(name, 0), rnd)
    return green, last_green


def load_all() -> dict[str, Query]:
    """Import all query modules (side effect: fills REGISTRY) and return it.

    The returned dict is ordered with never-driver-verified (and red)
    queries first, then greens by ascending last-green round (see
    _driver_history) so a budget-capped verifier covers the backlog
    first and otherwise rotates through the least-recently-checked
    tail — with ~50 checks/round over ~233 queries every green gets
    re-verified at least every ~5 rounds.
    """
    from tracy_matdb_spark.queries import (  # noqa: F401
        corpus,
        coverage,
        crystalq,
        domain,
        drift,
        events,
        ingest,
        llm,
        relational,
        sketches,
        webscale,
    )

    green, last_green = _driver_history()
    ordered = sorted(
        REGISTRY, key=lambda n: (n in green, last_green.get(n, 0))
    )
    return {n: REGISTRY[n] for n in ordered}
