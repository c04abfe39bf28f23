"""The scaling runner (tools/scaling.py): the committed SCALING.json
reads as the runner's output, every decade refuses a bad --only name
before a session starts, the block writer never truncates the artifact,
and a small test-only decade runs end to end through the runner."""

from __future__ import annotations

import json
import os

import pytest

from tests.conftest import SF_SMOKE
from tools.scaling import (
    DECADES,
    STREAM,
    Decade,
    _add_state_rows,
    _header,
    _row,
    _state_rows,
    main,
    run,
    selection,
    write_block,
)
from tracy_matdb_spark.queries import load_all

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.parametrize("name", sorted(DECADES))
def test_committed_block_has_the_runner_keys(name):
    """Each committed row has exactly the keys the runner writes for its
    decade (sec_<small>, sec_<large>, ratio, flagged, plus state_rows_*
    for typed-state rows), and each block carries the decade's header,
    so a renamed column fails here rather than in the next offline run."""
    d = DECADES[name]
    with open(os.path.join(ROOT, "SCALING.json")) as fh:
        data = json.load(fh)
    block = data if d.key is None else data[d.key]
    queries, tws, _ = selection(d, load_all())
    plain = set(_row(d, 1.0, 1.0))
    typed = set(_add_state_rows(d, _row(d, 1.0, 1.0), 1, 1))
    runner_names = set(queries) | set(tws) | ({STREAM} if d.streaming_ingest else set())
    assert set(_header(d, 0.0)) <= set(block)
    assert ("pagerank_telemetry" in block) == d.pagerank_telemetry
    assert ("skew_stress" in block) == d.skew_stress
    for qname, row in block["queries"].items():
        assert qname in runner_names, qname
        assert set(row) == (typed if qname in tws else plain), qname


@pytest.mark.parametrize("name", sorted(DECADES))
def test_unknown_only_name_raises_before_session(name):
    """A name outside the chosen decade's own lists raises SystemExit
    before any dataset check or session — including a registered query
    that another decade measures."""
    with pytest.raises(SystemExit, match="unknown --only"):
        main([name, "--only", "knn_pq"])
    other = "hybrid_rrf_batch" if name != "sf1" else "q21_sole_returning_supplier"
    with pytest.raises(SystemExit, match="unknown --only"):
        main([name, "--only", other])
    assert "SPARK_GRAFT_IO_CODEC" not in os.environ


def test_only_typed_state_name_keeps_its_state_rows():
    d = DECADES["sf10_full"]
    queries, tws, extras = selection(d, load_all(), ["events_stateful_totals_tws", STREAM])
    assert queries == [] and tws == ["events_stateful_totals_tws"]
    assert extras == {STREAM}


def test_state_rows_ratio_and_refusal(monkeypatch):
    d = DECADES["sf10_full"]
    row = _add_state_rows(d, _row(d, 1.0, 5.0), 0, 40)
    assert row["state_rows_ratio"] == -1.0  # nothing to divide by
    assert _add_state_rows(d, _row(d, 1.0, 5.0), 4, 40)["state_rows_ratio"] == 10.0
    from tracy_matdb_spark.streaming import windows

    monkeypatch.setattr(windows, "LAST_STREAM_PROGRESS", {"q": {"state_rows_total": 7}})
    assert _state_rows("q", "sf1") == 7
    with pytest.raises(SystemExit, match="refusing to publish a -1"):
        _state_rows("missing", "sf1")


def test_write_block_replaces_one_key_or_merges_root(tmp_path):
    path = str(tmp_path / "A.json")
    write_block(path, None, {"queries": {"a": 1}, "flagged": []})
    write_block(path, "sf1", {"queries": {"b": 2}})
    write_block(path, None, {"queries": {"a": 3}, "flagged": ["a"]})
    with open(path) as fh:
        assert json.load(fh) == {
            "queries": {"a": 3},
            "flagged": ["a"],
            "sf1": {"queries": {"b": 2}},
        }
    assert os.listdir(tmp_path) == ["A.json"]


def test_write_block_failure_leaves_artifact_byte_identical(tmp_path):
    """A value that fails to serialize must not truncate the artifact
    that holds every decade."""
    path = tmp_path / "SCALING.json"
    write_block(str(path), "sf1", {"queries": {"a": {"ratio": 2.0}}})
    before = path.read_bytes()
    with pytest.raises(TypeError):
        write_block(str(path), "sf10_full", {"queries": {"b": object()}})
    assert path.read_bytes() == before
    assert os.listdir(tmp_path) == ["SCALING.json"]


def test_runner_smoke_with_only_merge(spark, tmp_path):
    """A test-only decade (sf0.001 -> sf0.01, two queries) through the
    runner: full run, then a --only re-measure merged into its block,
    with a foreign decade surviving both writes."""
    d = Decade(
        name="smoke",
        key="smoke",
        small=("sf0.001", SF_SMOKE),
        large=("sf0.01", os.path.join(os.path.dirname(SF_SMOKE), "sf0.01")),
        metric="scaling_ratio_sf0.001_to_sf0.01",
        queries=("q1_pricing_summary", "dedup_exact"),
        dataset="sf0.001 vs sf0.01 test data",
        tables=("lineitem", "documents"),
    )
    path = tmp_path / "SCALING.json"
    path.write_text(json.dumps({"sf1": {"queries": {}, "flagged": []}}))
    with pytest.raises(SystemExit, match="no block to merge"):
        run(d, ["dedup_exact"], str(path), spark)

    full = run(d, path=str(path), spark=spark)
    assert set(full["queries"]) == {"q1_pricing_summary", "dedup_exact"}
    for row in full["queries"].values():
        assert set(row) == {"sec_sf0.001", "sec_sf0.01", "ratio", "flagged"}
        assert row["sec_sf0.001"] > 0 and row["sec_sf0.01"] > 0
    assert set(_header(d, 0.0)) <= set(full)
    written = json.loads(path.read_text())
    assert written["smoke"] == full and "sf1" in written

    merged = run(d, ["dedup_exact"], str(path), spark)
    assert merged["queries"]["q1_pricing_summary"] == full["queries"]["q1_pricing_summary"]
    assert set(merged["queries"]) == {"q1_pricing_summary", "dedup_exact"}
    assert merged["load1_start"] == full["load1_start"]
    assert len(merged["load1_start_subset_runs"]) == 1
    written = json.loads(path.read_text())
    assert written["smoke"] == merged and "sf1" in written
