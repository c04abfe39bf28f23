"""Unit tests for the scaling runner's --only subset-merge logic
(tools/scaling._merge_subset, first written for the sf100 probe and
now shared by every decade). The runs themselves are offline
measurements (SCALING.json is a committed artifact); these pin the
merge semantics without a session: a subset re-measure must never drop
rows it didn't touch, must clear a prior flag only by re-measuring that
query clean, and must keep the full run's load1 with the subset run's
load1 appended for audit."""

from __future__ import annotations

import copy

from tools.scaling import _merge_subset


def _block(queries, flagged=(), tel=None, load1=1.0):
    return {
        "metric": "scaling_ratio_sf10_to_sf100_probe",
        "queries": queries,
        "flagged": list(flagged),
        "pagerank_telemetry": tel or {},
        "load1_start": load1,
    }


def test_untouched_rows_survive_and_new_rows_land():
    prior = _block(
        {"a": {"ratio": 2.0, "flagged": False}, "b": {"ratio": 3.0, "flagged": False}},
        tel={"sf10": {"total_s": 1.0}},
        load1=0.5,
    )
    subset = _block({"c": {"ratio": 1.5, "flagged": False}}, load1=2.5)
    merged = _merge_subset(copy.deepcopy(prior), subset, 2.5)
    assert set(merged["queries"]) == {"a", "b", "c"}
    assert merged["queries"]["a"]["ratio"] == 2.0
    # the full run's telemetry survives a subset run that produced none
    assert merged["pagerank_telemetry"] == {"sf10": {"total_s": 1.0}}
    assert merged["load1_start"] == 0.5
    assert merged["load1_start_subset_runs"] == [2.5]


def test_remeasured_row_replaces_and_clears_its_flag():
    prior = _block(
        {"a": {"ratio": 14.0, "flagged": True}, "b": {"ratio": 2.0, "flagged": False}},
        flagged=["a"],
    )
    subset = _block({"a": {"ratio": 9.0, "flagged": False}})
    merged = _merge_subset(copy.deepcopy(prior), subset, 1.0)
    assert merged["queries"]["a"]["ratio"] == 9.0
    assert merged["flagged"] == []


def test_flag_on_untouched_row_is_preserved():
    prior = _block(
        {"a": {"ratio": 14.0, "flagged": True}, "b": {"ratio": 2.0, "flagged": False}},
        flagged=["a"],
    )
    subset = _block({"b": {"ratio": 2.1, "flagged": False}})
    merged = _merge_subset(copy.deepcopy(prior), subset, 1.0)
    assert merged["flagged"] == ["a"]


def test_subset_run_can_add_a_flag():
    prior = _block({"a": {"ratio": 2.0, "flagged": False}})
    subset = _block({"b": {"ratio": 15.0, "flagged": True}}, flagged=["b"])
    merged = _merge_subset(copy.deepcopy(prior), subset, 1.0)
    assert merged["flagged"] == ["b"]


def test_subset_telemetry_wins_when_present():
    prior = _block({}, tel={"sf10": {"total_s": 1.0}})
    subset = _block({}, tel={"sf10": {"total_s": 9.0}, "sf100": {"total_s": 90.0}})
    merged = _merge_subset(copy.deepcopy(prior), subset, 1.0)
    assert merged["pagerank_telemetry"]["sf100"]["total_s"] == 90.0


def test_repeated_subset_runs_append_load1_audit_trail():
    prior = _block({"a": {"ratio": 1.0, "flagged": False}}, load1=0.5)
    m1 = _merge_subset(copy.deepcopy(prior), _block({}), 1.5)
    m2 = _merge_subset(copy.deepcopy(m1), _block({}), 2.5)
    assert m2["load1_start"] == 0.5
    assert m2["load1_start_subset_runs"] == [1.5, 2.5]


def test_subset_env_mismatch_preserves_full_run_attribution():
    """A subset run under a different codec/heap must not re-stamp the
    block's env fields for rows it did not measure — the prior (full
    run) attribution wins and the mismatch is surfaced explicitly."""
    prior = _block({"a": {"ratio": 2.0, "flagged": False}})
    prior.update({"io_codec": "zstd", "driver_mem": "24g"})
    subset = _block({"b": {"ratio": 1.0, "flagged": False}})
    subset.update({"io_codec": "lz4", "driver_mem": "8g"})
    merged = _merge_subset(copy.deepcopy(prior), subset, 1.0)
    assert merged["io_codec"] == "zstd"
    assert merged["driver_mem"] == "24g"
    assert merged["subset_env_mismatch"] == {"io_codec": "lz4", "driver_mem": "8g"}


def test_subset_env_match_leaves_no_mismatch_marker():
    prior = _block({})
    prior.update({"io_codec": "zstd", "driver_mem": "24g"})
    subset = _block({})
    subset.update({"io_codec": "zstd", "driver_mem": "24g"})
    merged = _merge_subset(copy.deepcopy(prior), subset, 1.0)
    assert "subset_env_mismatch" not in merged


def test_unknown_only_name_is_a_loud_error():
    """A misspelled --only name must not become a silent no-op that
    still rewrites SCALING.json as if a re-measure happened."""
    import pytest

    from tools.scaling import main

    with pytest.raises(SystemExit, match="unknown --only"):
        main(["sf100_probe", "--only", "knn_pq"])


def test_import_has_no_codec_env_side_effect():
    """Importing the module (as this test file does for _merge_subset)
    must not set SPARK_GRAFT_IO_CODEC — the sf100_probe decade's zstd
    default binds inside run() only, else every later get_session in the
    process silently runs zstd."""
    import os

    import tools.scaling  # noqa: F401

    assert "SPARK_GRAFT_IO_CODEC" not in os.environ
