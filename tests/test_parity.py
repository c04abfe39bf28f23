"""Oracle parity for every registered query at sf0.001 (fast smoke).

This mirrors the driver's t2 gate: Spark result vs DuckDB oracle,
order-insensitive, exact values. The per-round driver check runs the
same comparison at sf0.01.

At sf0.001 every footer-stat size gate takes its small-data branch, so
a query that reads a catalog stat is checked a second time with both
stats forced huge: the big-data branch (merge hints, no checkpoint,
widened LSH bands, materialized edges) must equal the same oracle.
"""

from __future__ import annotations

import pytest

from tests.conftest import SF_SMOKE
from tools.check_parity import compare
from tracy_matdb_spark import catalog
from tracy_matdb_spark.queries import load_all

REGISTRY = load_all()
STATS = ("table_num_rows", "table_num_row_groups")
HUGE = 1 << 40


def _check_parity(name, spark, duck):
    q = REGISTRY[name]
    spark_pdf = q.fn(spark, SF_SMOKE).toPandas()
    if q.oracle is None:
        assert len(spark_pdf) >= 0  # rows-only check
        return
    oracle = q.oracle_fn(SF_SMOKE) if q.oracle_fn is not None else q.oracle
    duck_pdf = duck.execute(oracle).df()
    problems = compare(name, spark_pdf, duck_pdf)
    assert not problems, f"{name}: {problems}"


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_query_parity(name, spark, duck, monkeypatch):
    reads = []

    def counted(stat):
        def read(sf_dir, table):
            reads.append(table)
            return stat(sf_dir, table)

        return read

    for stat in STATS:
        monkeypatch.setattr(catalog, stat, counted(getattr(catalog, stat)))
    _check_parity(name, spark, duck)
    if not reads:
        return
    for stat in STATS:
        monkeypatch.setattr(catalog, stat, lambda sf_dir, table: HUGE)
    _check_parity(name, spark, duck)
