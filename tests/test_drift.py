"""Semantic tests for the corpus drift & monitoring family
(tracy_matdb_spark/queries/drift.py) with PLANTED drift: the DuckDB
parity suite (tests/test_parity.py) already hash-checks every query
against its oracle on the synthetic corpus, so these tests instead
plant distributions with KNOWN statistics in a temp documents table
and assert the closed-form answers — disjoint supports must score
KS = 1.0, identical batches must score novelty 0, a source-exclusive
term must win that source's chi-square."""

from __future__ import annotations

import pytest

from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def planted(spark, tmp_path_factory):
    """documents table with planted structure:

    * srcA: doc lengths 10..59, text 'alpha beta gamma delta' (+ 'zzz'
      marker on every doc) — srcB: lengths 1010..1059, same base text,
      no marker. Disjoint length supports => KS exactly 1.
    * doc_ids 0..49 (srcA) and 1000..1049 (srcB): every batch
      (doc_id % 8) sees the same two shingle sets => zero novelty
      after the first occurrence batches.
    """
    base = tmp_path_factory.mktemp("drift_sf")
    rows = []
    for i in range(50):
        rows.append((i, "alpha beta gamma delta zzz", "en", "srcA", 10 + i))
    for i in range(50):
        rows.append((1000 + i, "alpha beta gamma delta", "en", "srcB", 1010 + i))
    df = spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, n_chars bigint"
    )
    df.repartition(4).write.parquet(str(base / "documents.parquet"))
    return str(base)


def test_ks_disjoint_supports_score_one(spark, planted):
    from tracy_matdb_spark.queries import load_all

    out = {
        r["source"]: r
        for r in load_all()["ks_source_drift"].fn(spark, planted).collect()
    }
    assert set(out) == {"srcA", "srcB"}
    # disjoint supports: sup |F_src - F_rest| = 1 exactly, both sides
    assert out["srcA"]["ks_ppm"] == 1_000_000
    assert out["srcB"]["ks_ppm"] == 1_000_000
    assert out["srcA"]["n_s"] == 50 and out["srcB"]["n_s"] == 50


def test_ks_identical_distributions_score_zero(spark, tmp_path):
    from tracy_matdb_spark.queries import load_all

    rows = [
        (s * 100 + i, "w", "en", f"src{s}", 10 + i)
        for s in range(2)
        for i in range(30)
    ]
    df = spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, n_chars bigint"
    )
    df.write.parquet(str(tmp_path / "documents.parquet"))
    out = load_all()["ks_source_drift"].fn(spark, str(tmp_path)).collect()
    # same length multiset per source => ECDFs coincide at every value
    assert all(r["ks_ppm"] == 0 for r in out)


def test_psi_orders_the_shifted_source_highest(spark, planted):
    from tracy_matdb_spark.queries import load_all

    out = {
        r["source"]: r["psi_micro"]
        for r in load_all()["psi_source_drift"].fn(spark, planted).collect()
    }
    # both sources sit in opposite extreme bins => large positive PSI;
    # smoothing keeps it finite. PSI > 0.25 is the standard 'major
    # shift' threshold — a fully disjoint split must clear it hugely.
    assert out["srcA"] > 250_000 and out["srcB"] > 250_000


def test_chi2_source_exclusive_term_wins(spark, planted):
    from tracy_matdb_spark.queries import load_all

    rows = load_all()["chi2_term_source"].fn(spark, planted).collect()
    by_src = {}
    for r in rows:
        by_src.setdefault(r["source"], []).append(r)
    # 'zzz' appears in every srcA doc and no srcB doc: it is the
    # maximally-associated term for BOTH sources (presence for A,
    # absence for B) and chi2 is symmetric on the 2x2 table => it must
    # rank first for srcA with df_src = 50
    top_a = by_src["srcA"][0]
    assert top_a["term"] == "zzz" and top_a["df_src"] == 50
    # shared terms (alpha/beta/gamma/delta in every doc of both) are
    # df_all == n_all and must be excluded by the degenerate-table guard
    assert all(r["term"] not in {"alpha", "beta", "gamma", "delta"} for r in rows)


def test_novelty_identical_batches_saturate_immediately(spark, planted):
    from tracy_matdb_spark.queries import load_all

    rows = load_all()["ngram_novelty_curve"].fn(spark, planted).collect()
    assert [r["batch"] for r in rows] == list(range(8))
    # every batch contains docs from both sources => both shingle sets
    # (with/without the zzz tail) occur in batch 0; later batches add 0
    assert rows[0]["novelty_ppm"] == 1_000_000
    assert all(r["n_new"] == 0 and r["novelty_ppm"] == 0 for r in rows[1:])
    # cumulative curve is flat after batch 0 at the total shingle count
    assert all(r["cum_new"] == rows[0]["n_new"] for r in rows)


def test_degenerate_inputs_guarded(spark, tmp_path):
    """Single-source corpora (empty 'rest' sample) and sub-shingle-
    length docs are guarded, not divided by zero / fed to slice(x, 0):
    ks and chi2 return NO rows (no statistic exists), psi still returns
    its smoothed value, novelty skips the short doc instead of erroring
    on Spark's descending sequence(1, stop<1)."""
    from tracy_matdb_spark.queries import load_all

    rows = [
        (0, "ab", "en", "only", 2),  # 1 token: below NOV_N
        (1, "alpha beta gamma delta epsilon zeta", "en", "only", 35),
        (2, "alpha beta gamma delta epsilon eta", "en", "only", 34),
    ]
    df = spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, n_chars bigint"
    )
    df.write.parquet(str(tmp_path / "documents.parquet"))
    reg = load_all()
    assert reg["ks_source_drift"].fn(spark, str(tmp_path)).collect() == []
    assert reg["chi2_term_source"].fn(spark, str(tmp_path)).collect() == []
    psi = reg["psi_source_drift"].fn(spark, str(tmp_path)).collect()
    assert len(psi) == 1 and psi[0]["psi_micro"] is not None
    nov = reg["ngram_novelty_curve"].fn(spark, str(tmp_path)).collect()
    # doc 0 contributes no shingles; batches 1 and 2 still report
    assert sorted(r["batch"] for r in nov) == [1, 2]


def test_stream_psi_records_progress_under_registry_name(spark):
    """The streaming PSI monitor must record its stream progress under
    the REGISTRY name (the round-11 keying convention tools/scaling.py's
    state telemetry reads), and every window's drift must be a finite
    micro value."""
    from tracy_matdb_spark.queries import load_all
    from tracy_matdb_spark.streaming import windows as W

    rows = load_all()["events_type_psi_stream"].fn(spark, SF_SMOKE).collect()
    assert rows and all(r["drift_micro"] is not None for r in rows)
    assert all(r["n_events"] > 0 for r in rows)
    prog = W.LAST_STREAM_PROGRESS.get("events_type_psi_stream")
    assert prog is not None and prog.get("state_rows_total", -1) >= 0


def test_drift_queries_at_smoke_sf_are_sane(spark):
    """Registry-level smoke on the real synthetic corpus: bounded
    statistics, full group coverage (parity with DuckDB is separately
    hash-checked by tests/test_parity.py)."""
    from tracy_matdb_spark.queries import load_all

    reg = load_all()
    ks = reg["ks_source_drift"].fn(spark, SF_SMOKE).collect()
    assert len(ks) == 20 and all(0 <= r["ks_ppm"] <= 1_000_000 for r in ks)
    chi = reg["chi2_term_source"].fn(spark, SF_SMOKE).collect()
    from tracy_matdb_spark.queries.drift import CHI2_TOP

    per = {}
    for r in chi:
        per[r["source"]] = per.get(r["source"], 0) + 1
    assert all(v <= CHI2_TOP for v in per.values())
    nov = reg["ngram_novelty_curve"].fn(spark, SF_SMOKE).collect()
    assert nov[0]["n_new"] == nov[0]["n_distinct"]  # batch 0 is all-new
    assert nov[-1]["cum_new"] >= nov[0]["cum_new"]


def test_psi_micro_fold_is_permutation_invariant():
    """Property test (r13 ADVICE follow-up): the PSI rewrite's whole
    point is that quantizing EACH term to micro units before an integer
    sum makes psi_micro independent of fold order — neither Spark's
    map-side-combine merge order nor DuckDB's (potentially pairwise/
    SIMD) float fold can perturb it. Sweep random (source x bin) count
    tables through the exact term expression from psi_source_drift
    (queries/drift.py) and assert the summed result is bit-identical
    under identity, reversed, shuffled, and pairwise-tree fold orders.
    Also pins the docstring's error bound: the micro total sits at most
    PSI_BINS micro units below the unquantized float PSI."""
    import math
    import random

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from tracy_matdb_spark.queries.drift import PSI_BINS

    def terms_micro(n_sb_bins, n_b_bins, n_s, n_all):
        out = []
        floats = []
        for n_sb, n_b in zip(n_sb_bins, n_b_bins):
            p = float(n_sb + 1) / float(n_s + PSI_BINS)
            q = float(n_b - n_sb + 1) / float(n_all - n_s + PSI_BINS)
            t = (p - q) * math.log(p / q)
            out.append(math.floor(1_000_000.0 * t))
            floats.append(t)
        return out, floats

    def tree_sum(xs):
        if len(xs) == 1:
            return xs[0]
        mid = len(xs) // 2
        return tree_sum(xs[:mid]) + tree_sum(xs[mid:])

    @settings(max_examples=200, deadline=None)
    @given(
        counts=st.lists(
            st.integers(min_value=0, max_value=10**6),
            min_size=2 * PSI_BINS,
            max_size=2 * PSI_BINS,
        ),
        seed=st.integers(min_value=0, max_value=2**31),
    )
    def check(counts, seed):
        # two sources over PSI_BINS bins; focal source = first half
        src = counts[:PSI_BINS]
        rest = counts[PSI_BINS:]
        n_b = [a + b for a, b in zip(src, rest)]
        n_s, n_all = sum(src), sum(src) + sum(rest)
        micro, floats = terms_micro(src, n_b, n_s, n_all)

        total = sum(micro)
        shuffled = micro[:]
        random.Random(seed).shuffle(shuffled)
        assert sum(reversed(micro)) == total
        assert sum(shuffled) == total
        assert tree_sum(shuffled) == total
        # docstring bound: at most one micro lost per term to the floor
        float_psi_micro = 1_000_000.0 * sum(floats)
        assert total <= float_psi_micro < total + len(micro) + 1

    check()
