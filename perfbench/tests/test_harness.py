"""Unit tests of the benchmark's pure helpers (no Spark needed):

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import pandas as pd
import pytest

from perfbench import check, inputs
from perfbench.stats import parse_metric, tail


@pytest.mark.parametrize(
    "text, value",
    [
        ("65.1 KiB", 65.1 * 1024),
        ("0.0 B", 0.0),
        ("1936.0 B", 1936.0),
        ("2.3 GiB", 2.3 * 1024**3),
        ("2,024", 2024.0),
        ("24", 24.0),
        ("4 ms", 0.004),
        ("12.8 s", 12.8),
        ("1.5 m", 90.0),
        ("total (min, med, max (stageId: taskId))\n12.8 s (184 ms, 345 ms, 1.6 s (stage 2.0: task 7))", 12.8),
        ("total (min, med, max (stageId: taskId))\n2.9 KiB (1489.0 B, 1489.0 B, 1489.0 B (stage 9.0: task 69))",
         2.9 * 1024),
    ],
)
def test_parse_metric(text, value):
    assert parse_metric(text) == pytest.approx(value)


@pytest.mark.parametrize(
    "text",
    ["(min, med, max (stageId: taskId)):\n(1, 1, 1 (stage 9.0: task 69))", "12 parsecs", "", "n/a"],
)
def test_parse_metric_rejects_what_it_cannot_total(text):
    with pytest.raises(ValueError):
        parse_metric(text)


def test_tail_keeps_ten_samples_beyond():
    assert tail(list(range(10))) is None  # no rank has ten samples above it
    assert tail([5.0] * 11) == (100.0 / 11, 5.0)
    xs = [float(x) for x in range(1, 101)]  # 1..100
    pct, value = tail(xs)
    assert (pct, value) == (90.0, 90.0)
    assert sum(x > value for x in xs) == 10
    assert tail(list(reversed(xs))) == (pct, value)  # order-free


def test_value_hash_ignores_order_but_not_values_or_kinds():
    a = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.5, 2.5]})
    shuffled = a.iloc[[2, 0, 1]][["v", "k"]].reset_index(drop=True)
    assert check.mismatch(shuffled, a) is None
    assert check.mismatch(a.assign(v=[0.5, 1.5, 2.6]), a).startswith("value hash")
    assert check.mismatch(a.assign(k=a.k.astype(float)), a).startswith("value hash")
    assert check.mismatch(pd.concat([a, a.iloc[:1]]), a).startswith("rows")
    dup = pd.DataFrame({"k": [1, 1, 2], "v": [0.5, 0.5, 1.5]})
    assert check.mismatch(dup, pd.DataFrame({"k": [1, 2, 2], "v": [0.5, 1.5, 1.5]})) is not None


def test_inputs_are_a_function_of_the_seed(tmp_path):
    import pyarrow.parquet as pq

    for seed, sub in ((3, "a"), (3, "b"), (4, "c")):
        inputs.write_tables(str(tmp_path / sub), seed, ("documents",))
    a, b, c = (pq.read_table(tmp_path / s / "documents.parquet") for s in "abc")
    assert a.equals(b)
    assert not a.equals(c)
    meta = pq.ParquetFile(tmp_path / "a" / "documents.parquet").metadata
    assert (meta.num_rows, meta.num_row_groups) == (inputs.DOCUMENTS, 1)
    texts = a.column("text").to_pylist()
    assert sum(t.endswith(" dup") for t in texts) >= inputs.NEAR_DUPS


def test_drop_plan_covers_every_row_and_re_offers_a_slice():
    plan = inputs.drop_plan(seed=5, n_docs=1000, n_drops=4)
    assert set().union(*map(set, plan)) == set(range(1000))
    for prev, cur in zip(plan, plan[1:]):
        again = set(cur) & set(prev)
        assert 0 < len(again) <= 0.1 * len(prev) + 1
