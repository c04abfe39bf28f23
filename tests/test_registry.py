"""Registry ordering guardrails: the driver checks ~50 queries per
round, so the unverified-first ordering IS the verification pipeline —
these tests keep its green/stale rules honest (round-3 verdict items
#2/#3: a no_oracle row must not stay green after an oracle is added,
and a semantics change must re-surface an old green row)."""

from __future__ import annotations

import json

from tracy_matdb_spark import queries as Q


def _with_fake_registry(entries):
    """Temporarily splice fake Query objects into REGISTRY."""
    added = []
    for name, oracle in entries.items():
        assert name not in Q.REGISTRY
        Q.REGISTRY[name] = Q.Query(name=name, fn=lambda s, d: None, oracle=oracle)
        added.append(name)
    return added


def _write_rows(tmp_path, fname, rows):
    (tmp_path / fname).write_text(json.dumps(rows))


def test_hash_green_counts_and_red_does_not(tmp_path):
    added = _with_fake_registry({"__t_green": "SELECT 1", "__t_red": "SELECT 1"})
    try:
        _write_rows(tmp_path, "CORRECTNESS_r01.json", {
            "__t_green": {"hash_match": True},
            "__t_red": {"hash_match": False, "err": "hash"},
        })
        green = Q._driver_history(str(tmp_path))[0]
        assert "__t_green" in green
        assert "__t_red" not in green
    finally:
        for n in added:
            del Q.REGISTRY[n]


def test_no_oracle_green_only_while_registration_is_oracle_less(tmp_path):
    added = _with_fake_registry({"__t_still_none": None, "__t_gained_oracle": "SELECT 1"})
    try:
        _write_rows(tmp_path, "CORRECTNESS_r01.json", {
            "__t_still_none": {"hash_match": None, "err": "no_oracle"},
            "__t_gained_oracle": {"hash_match": None, "err": "no_oracle"},
        })
        green = Q._driver_history(str(tmp_path))[0]
        assert "__t_still_none" in green  # deliberately oracle-less: rows-only OK
        assert "__t_gained_oracle" not in green  # oracle added later: must re-verify
    finally:
        for n in added:
            del Q.REGISTRY[n]


def test_invalidated_before_ignores_pre_change_rows(tmp_path):
    added = _with_fake_registry({"__t_changed": "SELECT 1"})
    Q.INVALIDATED_BEFORE["__t_changed"] = 4
    try:
        _write_rows(tmp_path, "CORRECTNESS_r03.json", {"__t_changed": {"hash_match": True}})
        assert "__t_changed" not in Q._driver_history(str(tmp_path))[0]
        _write_rows(tmp_path, "CORRECTNESS_r04.json", {"__t_changed": {"hash_match": True}})
        assert "__t_changed" in Q._driver_history(str(tmp_path))[0]
    finally:
        del Q.INVALIDATED_BEFORE["__t_changed"]
        for n in added:
            del Q.REGISTRY[n]


def test_invalidated_before_names_are_registered():
    """Every INVALIDATED_BEFORE entry must name a registered query —
    a stale name (query renamed/removed after a semantics change) would
    silently stop forcing re-verification. Any oracle/semantics change
    to a driver-green query MUST add an entry here with the current
    round number (see CONTRIBUTING.md)."""
    from tracy_matdb_spark.queries import INVALIDATED_BEFORE, load_all

    registered = set(load_all())
    stale = set(INVALIDATED_BEFORE) - registered
    assert not stale, f"INVALIDATED_BEFORE names unregistered queries: {sorted(stale)}"
    assert all(
        isinstance(rnd, int) and rnd > 0 for rnd in INVALIDATED_BEFORE.values()
    ), "rounds must be positive ints"


def test_rotation_orders_greens_oldest_checked_first(tmp_path):
    """Round-7 verdict item #5: with 0 never-checked queries the driver's
    50/round sample must rotate through the LEAST recently checked
    greens, not re-draw an arbitrary prefix — last-green round is the
    secondary sort key after the unverified-first primary."""
    added = _with_fake_registry(
        {
            "__t_old_green": "SELECT 1",
            "__t_new_green": "SELECT 1",
            "__t_never": "SELECT 1",
            "__t_red_recent": "SELECT 1",
        }
    )
    try:
        _write_rows(
            tmp_path,
            "CORRECTNESS_r01.json",
            {"__t_old_green": {"hash_match": True}},
        )
        _write_rows(
            tmp_path,
            "CORRECTNESS_r03.json",
            {
                "__t_new_green": {"hash_match": True},
                "__t_red_recent": {"hash_match": False, "err": "boom"},
            },
        )
        green, last_green = Q._driver_history(str(tmp_path))
        assert green == {"__t_old_green", "__t_new_green"}
        assert last_green == {"__t_old_green": 1, "__t_new_green": 3}
        ordered = sorted(added, key=lambda n: (n in green, last_green.get(n, 0)))
        # never-checked + red first (registration order), then greens by
        # ascending last-green round
        assert ordered.index("__t_never") < ordered.index("__t_old_green")
        assert ordered.index("__t_red_recent") < ordered.index("__t_old_green")
        assert ordered.index("__t_old_green") < ordered.index("__t_new_green")
    finally:
        for n in added:
            del Q.REGISTRY[n]


def test_rotation_green_recency_survives_later_red(tmp_path):
    """A green that later turns red must re-surface at the FRONT (red
    rows never count as green), and re-greening bumps recency."""
    added = _with_fake_registry({"__t_flaky": "SELECT 1", "__t_stable": "SELECT 1"})
    try:
        _write_rows(
            tmp_path,
            "CORRECTNESS_r01.json",
            {"__t_flaky": {"hash_match": True}, "__t_stable": {"hash_match": True}},
        )
        _write_rows(
            tmp_path,
            "CORRECTNESS_r02.json",
            {"__t_flaky": {"hash_match": False, "err": "regressed"}},
        )
        green, last_green = Q._driver_history(str(tmp_path))
        # flaky is still green from r01 (a red row doesn't erase history),
        # but its recency stays at r01 so it sorts before r-later greens
        assert "__t_flaky" in green and last_green["__t_flaky"] == 1
        _write_rows(
            tmp_path,
            "CORRECTNESS_r04.json",
            {"__t_flaky": {"hash_match": True}},
        )
        _, last_green2 = Q._driver_history(str(tmp_path))
        assert last_green2["__t_flaky"] == 4
    finally:
        for n in added:
            del Q.REGISTRY[n]
