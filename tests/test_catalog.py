"""The per-session relation cache in catalog.load (r14 optimization).

The cache must be METADATA-only reuse of the analyzed relation: same
session + same file (path, mtime_ns, size) -> same DataFrame object
(skipping repeated listing/schema-inference), while a REWRITTEN file
must produce a fresh relation that sees the new bytes — the invariant
that separates a catalog from result caching. Directory tables bypass
the cache (their file set can change without touching the dir inode).
Also the per-file footer memo and the one failure contract of the
footer-stat size gates.
"""

from __future__ import annotations

import os

import pytest

from tracy_matdb_spark.catalog import (
    _FOOTER_CACHE,
    _relation,
    footer_stat,
    gated_local_checkpoint,
    load,
    spread_unsplittable_scan,
    table_num_row_groups,
)

SF_SMOKE = "/root/testdata/sf0.001"


def test_same_file_resolves_to_same_relation(spark):
    a = load(spark, SF_SMOKE, ("orders",))["orders"]
    b = load(spark, SF_SMOKE, ("orders",))["orders"]
    assert a is b  # second resolution reused the session's relation


def test_rewritten_file_invalidates_and_new_rows_are_visible(spark, tmp_path):
    p = str(tmp_path / "t.parquet")
    spark.range(5).toDF("id").coalesce(1).write.mode("overwrite").parquet(p)
    # single part-file inside a directory -> directory path bypasses the
    # cache; exercise the single-file path the testdata tables use
    part = [e for e in os.listdir(p) if e.endswith(".parquet")][0]
    f = str(tmp_path / "single.parquet")
    os.rename(os.path.join(p, part), f)

    a = _relation(spark, f)
    assert a is _relation(spark, f)
    assert a.count() == 5

    spark.range(9).toDF("id").coalesce(1).write.mode("overwrite").parquet(p)
    part = [e for e in os.listdir(p) if e.endswith(".parquet")][0]
    os.replace(os.path.join(p, part), f)

    b = _relation(spark, f)
    assert b is not a  # (mtime_ns, size) changed -> fresh relation
    assert b.count() == 9  # and it reads the new bytes


def test_rewrite_evicts_stale_entry_instead_of_accumulating(spark, tmp_path):
    # r15 ADVICE: the cache is keyed by realpath, so a table rewritten N
    # times holds ONE live entry, not N dead analyzed relations
    p = str(tmp_path / "t.parquet")
    f = str(tmp_path / "single.parquet")
    for n in (5, 9, 13):
        spark.range(n).toDF("id").coalesce(1).write.mode("overwrite").parquet(p)
        part = [e for e in os.listdir(p) if e.endswith(".parquet")][0]
        os.replace(os.path.join(p, part), f)
        assert _relation(spark, f).count() == n
    cache = spark._tms_relation_cache
    assert sum(1 for k in cache if k == os.path.realpath(f)) == 1


def test_row_group_memo_hits_and_invalidates_on_rewrite(spark, tmp_path):
    # r15 ADVICE: spread_unsplittable_scan consults this per query
    # construction — the footer must be opened once per file version.
    # The memo holds (num_rows, num_row_groups) per file
    f = str(tmp_path / "rg.parquet")
    p = str(tmp_path / "tmp.parquet")

    def _write(n_rows):
        spark.range(n_rows).toDF("id").coalesce(1).write.mode("overwrite").parquet(p)
        part = [e for e in os.listdir(p) if e.endswith(".parquet")][0]
        os.replace(os.path.join(p, part), f)

    _write(10)
    a = table_num_row_groups(str(tmp_path), "rg")
    rp = os.path.realpath(f)
    # prove the second call reads the memo, not the footer: plant a
    # sentinel under the current stat key and see it come back
    key, (rows, _) = _FOOTER_CACHE[rp]
    _FOOTER_CACHE[rp] = (key, (rows, a + 7))
    assert table_num_row_groups(str(tmp_path), "rg") == a + 7
    _FOOTER_CACHE[rp] = (key, (rows, a))
    _write(100_000)  # bigger file -> new (mtime, size, inode)
    b = table_num_row_groups(str(tmp_path), "rg")
    st = os.stat(f)
    # the memo re-keyed to the NEW file version (did not serve stale)
    assert _FOOTER_CACHE[os.path.realpath(f)] == (
        (st.st_mtime_ns, st.st_size, st.st_ino),
        (100_000, b),
    )


def test_directory_tables_bypass_the_cache(spark, tmp_path):
    p = str(tmp_path / "d.parquet")
    spark.range(3).toDF("id").write.mode("overwrite").parquet(p)
    a = _relation(spark, p)
    b = _relation(spark, p)
    assert a is not b


def test_cached_relation_results_match_fresh_read(spark):
    cached = load(spark, SF_SMOKE, ("orders",))["orders"]
    fresh = spark.read.parquet(os.path.join(SF_SMOKE, "orders.parquet"))
    assert cached.schema == fresh.schema
    assert cached.count() == fresh.count()
    got = {r["o_orderkey"] for r in cached.orderBy("o_orderkey").limit(50).collect()}
    want = {r["o_orderkey"] for r in fresh.orderBy("o_orderkey").limit(50).collect()}
    assert got == want


def test_load_events_leaves_session_conf_unchanged(spark):
    """Reading events must not change the caller's session settings;
    the nanos-as-long read setting is pinned by get_session instead."""
    from tracy_matdb_spark.catalog import load_events

    session = spark.newSession()
    session.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
    before = dict(session.conf.getAll)
    load_events(session, SF_SMOKE)
    assert dict(session.conf.getAll) == before
    assert spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true"


def test_unreadable_footer_warns_and_takes_the_big_branch(spark, tmp_path):
    """The one failure contract of every size gate: a footer that
    cannot be read warns (naming the table) and the gate takes its
    big-data branch; only footer-read errors are caught, so a
    programming error (a TypeError) propagates."""
    from tracy_matdb_spark.queries.llm import (
        LSH_EXTRA_BITS_MAX,
        PQ_TRAIN_MAX,
        _corpus_scaled_side,
        _lsh_extra_bits,
        _pq_train_bound,
    )

    sf_dir = str(tmp_path)
    (tmp_path / "documents.parquet").write_text("not parquet")  # ValueError
    (tmp_path / "embeddings.parquet").mkdir()  # no part-files: OSError
    df = spark.range(3)

    with pytest.warns(UserWarning, match="documents"):
        assert gated_local_checkpoint(df, sf_dir) is df
    with pytest.warns(UserWarning, match="documents"):
        assert spread_unsplittable_scan(df, sf_dir, "documents") is df
    with pytest.warns(UserWarning, match="documents"):
        hinted = _corpus_scaled_side(df, sf_dir)
    assert "merge" in hinted._jdf.queryExecution().logical().toString().lower()
    with pytest.warns(UserWarning, match="embeddings"):
        assert _lsh_extra_bits(sf_dir) == LSH_EXTRA_BITS_MAX
    with pytest.warns(UserWarning, match="embeddings"):
        assert _pq_train_bound(sf_dir) == PQ_TRAIN_MAX

    with pytest.raises(TypeError):
        footer_stat(None, "documents")
    with pytest.raises(TypeError):
        gated_local_checkpoint(df, None)
