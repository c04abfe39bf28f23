"""Unit tests for operator semantics (reference-parity invariants)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE
from tracy_matdb_spark.functions.prng import hash60
from tracy_matdb_spark.operators.aflow_dsl import compile_filter
from tracy_matdb_spark.operators.rank import global_rank_by_hash
from tracy_matdb_spark.operators.split import assign_split, split_counts


def test_split_counts_reference_formulas():
    # matdb/database/utility.py:106-110
    assert split_counts(10, 0.4) == (4, 3, 3)
    assert split_counts(7, 0.5) == (4, 2, 1)
    assert split_counts(0, 0.4) == (0, 0, 0)
    assert split_counts(1, 0.99) == (1, 0, 0)


def test_split_reproducible_and_exact(spark):
    orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet").select("o_orderkey")
    n = orders.count()
    a1 = assign_split(orders, "o_orderkey", 0.4, seed=42).toPandas().set_index("o_orderkey")["label"]
    a2 = assign_split(orders, "o_orderkey", 0.4, seed=42).toPandas().set_index("o_orderkey")["label"]
    assert a1.sort_index().equals(a2.sort_index())  # same seed => identical
    ntrain, nhold, nsuper = split_counts(n, 0.4)
    counts = a1.value_counts()
    assert counts["train"] == ntrain and counts["holdout"] == nhold and counts["super"] == nsuper
    a3 = assign_split(orders, "o_orderkey", 0.4, seed=43).toPandas().set_index("o_orderkey")["label"]
    assert not a1.sort_index().equals(a3.sort_index())  # different seed => different shuffle


def test_global_rank_is_exact(spark):
    df = spark.read.parquet(f"{SF_SMOKE}/orders.parquet").select("o_orderkey")
    h = hash60(F.lit(7), F.col("o_orderkey"))
    ranked = global_rank_by_hash(df, h, ["o_orderkey"], out_col="rk", n_buckets=16).toPandas()
    assert sorted(ranked["rk"]) == list(range(1, len(ranked) + 1))
    # rank order must agree with hash order
    ranked["h"] = None
    back = (
        df.withColumn("h", h).toPandas().merge(ranked[["o_orderkey", "rk"]], on="o_orderkey")
    )
    by_hash = back.sort_values(["h", "o_orderkey"]).reset_index(drop=True)
    assert list(by_hash["rk"]) == list(range(1, len(back) + 1))


def test_hash60_helpers_match_literal_md5_vectors(spark):
    """Engine and oracle share these helpers, so parity cannot catch an
    error in them: pin each dialect to integers computed from md5 alone
    (md5('42|abc') = c5d09d53985ac682..., md5('s|spark') = 87bc1e16364178cf...;
    hash60 is the first 15 hex digits)."""
    import duckdb

    from tracy_matdb_spark.functions.prng import sql_hash60
    from tracy_matdb_spark.operators.generators import _h60
    from tracy_matdb_spark.operators.textops import tok_hash60

    duck = duckdb.connect()
    assert spark.range(1).select(hash60("42", "abc")).first()[0] == 890879112686972008
    assert duck.execute("SELECT " + sql_hash60("'42|abc'")).fetchone()[0] == 890879112686972008
    spark_sql = (tok_hash60("spark", "'spark'"), _h60("'s|spark'", "spark"))
    duck_sql = (tok_hash60("duckdb", "'spark'"), _h60("'s|spark'", "duckdb"))
    assert list(spark.sql(f"SELECT {', '.join(spark_sql)}").first()) == [611295348218140556] * 2
    assert list(duck.execute(f"SELECT {', '.join(duck_sql)}").fetchone()) == [611295348218140556] * 2


def test_aflow_dsl_string_ops(spark):
    df = spark.createDataFrame(
        [("alpha", 1.0), ("alphabet", 5.0), ("beta", 2.0)], "name string, val double"
    )
    got = df.filter(compile_filter(["name", ">", "alpha"])).count()  # prefix
    assert got == 2
    got = df.filter(compile_filter(["name", "<", "bet"])).count()  # suffix
    assert got == 1
    got = df.filter(compile_filter(["&", ["name", "%", "a"], ["~", ["val", ">", 4.0]]])).count()
    assert got == 2


def test_aflow_dsl_rejects_bad_spec():
    with pytest.raises(ValueError):
        compile_filter([])
    with pytest.raises(ValueError):
        compile_filter(["name", "@@", "x"])


def test_generators_dedupe_and_determinism(spark):
    from tracy_matdb_spark.operators.generators import distortion_generate, vacancy_enumerate

    d1 = distortion_generate(spark).toPandas()
    d2 = distortion_generate(spark).toPandas()
    assert d1.equals(d2)
    assert d1["duid"].nunique() == len(d1)
    v = vacancy_enumerate(spark).toPandas()
    # C(n,2) per seed (vacancy.py:307-312 exact enumeration)
    from tracy_matdb_spark.operators.generators import VACANCY_SEEDS

    expected = sum(n * (n - 1) // 2 for _, n in VACANCY_SEEDS)
    assert len(v) == expected and v["vuid"].nunique() == expected


def test_salted_join_is_salt_invariant(spark):
    from tracy_matdb_spark.operators.skew import salted_join

    fact = spark.createDataFrame(
        [(i, "hot" if i % 10 else "cold", float(i)) for i in range(1, 201)],
        "id long, k string, v double",
    )
    dim = spark.createDataFrame([("hot", 2.0), ("cold", 5.0)], "k string, w double")
    plain = fact.join(dim, "k").select("id", "k", "v", "w")
    for n_salts in (1, 4, 16):
        salted = salted_join(fact, dim, "k", shard_on="id", n_salts=n_salts)
        got = sorted(salted.select("id", "k", "v", "w").collect())
        assert got == sorted(plain.collect()), n_salts


def test_salted_join_left_preserves_unmatched(spark):
    from tracy_matdb_spark.operators.skew import salted_join

    fact = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "zzz")], "id long, k string"
    )
    dim = spark.createDataFrame([("a", 10), ("b", 20)], "k string, w long")
    out = salted_join(fact, dim, "k", shard_on="id", n_salts=4, how="left")
    rows = {r.id: r.w for r in out.collect()}
    assert rows == {1: 10, 2: 20, 3: None}


def test_cluster_conf_scales_with_shape():
    """The 100 TB profile must derive from cluster shape, keep AQE +
    skew-join on, and bound the broadcast threshold at the same value
    the local factory uses (so local plan audits transfer)."""
    from tracy_matdb_spark.session import cluster_conf

    c = cluster_conf(executors=1000, cores_per_executor=8)
    assert c["spark.sql.shuffle.partitions"] == str(2 * 1000 * 8)
    assert c["spark.sql.adaptive.enabled"] == "true"
    assert c["spark.sql.adaptive.skewJoin.enabled"] == "true"
    assert c["spark.sql.autoBroadcastJoinThreshold"] == str(64 * 1024 * 1024)
    small = cluster_conf(executors=10, cores_per_executor=4)
    assert small["spark.sql.shuffle.partitions"] == "80"
    # two waves at most per stage given maxPartitionBytes splits
    assert int(c["spark.sql.files.maxPartitionBytes"]) == 256 * 1024 * 1024


def test_grouped_kth_value_matches_sorted_selection(spark):
    """grouped_kth_value must equal the k-th row of a full sort for
    several k expressions, across groups, including k=1 and k=n."""
    from pyspark.sql import functions as F

    from tracy_matdb_spark.operators.rank import grouped_kth_value

    df = (
        spark.range(1000)
        .select(
            (F.col("id") % 4).alias("g"),
            ((F.col("id") * 37) % 211).alias("v"),
            F.col("id").alias("tb"),
        )
    )
    pdf = df.toPandas()
    for k_expr, k_of_n in [
        ("(__n + 1) div 2", lambda n: (n + 1) // 2),
        ("1", lambda n: 1),
        ("__n", lambda n: n),
        ("(__n * 3) div 4", lambda n: (n * 3) // 4),
    ]:
        got = {
            r["g"]: (r["v"], r["tb"])
            for r in grouped_kth_value(
                df, ["g"], ["v", "tb"], k_expr, out_cols=["v", "tb"]
            ).collect()
        }
        for g, grp in pdf.groupby("g"):
            s = grp.sort_values(["v", "tb"]).reset_index(drop=True)
            k = k_of_n(len(s))
            assert got[g] == (s.loc[k - 1, "v"], s.loc[k - 1, "tb"]), (k_expr, g)


def test_scd2_property_random_histories(spark):
    """Property: the SCD2 gaps-and-islands plan equals a direct Python
    fold over randomly generated per-key attribute histories — versions
    increment exactly at changes, intervals chain with no gaps, the last
    interval is open (is_current)."""
    import pandas as pd
    from hypothesis import given, settings
    from hypothesis import strategies as st
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    def spark_scd2(rows):
        # (user, ts_us, event_id, type) — mirror of queries.events.scd2
        df = spark.createDataFrame(
            pd.DataFrame(rows, columns=["user_id", "ts_us", "event_id", "event_type"])
        )
        w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
        runs = (
            df.withColumn("prev", F.lag("event_type").over(w))
            .withColumn(
                "chg",
                F.when(F.col("prev").isNull() | (F.col("prev") != F.col("event_type")), 1).otherwise(0),
            )
            .withColumn(
                "version",
                F.sum("chg").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
            )
        )
        iv = runs.groupBy("user_id", "event_type", "version").agg(
            F.min("ts_us").alias("valid_from"), F.count(F.lit(1)).alias("n")
        )
        wv = Window.partitionBy("user_id").orderBy("version")
        nxt = F.lead("valid_from").over(wv)
        return {
            (r.user_id, r.version): (r.event_type, r.valid_from, r.valid_to, r.is_current, r.n)
            for r in iv.select(
                "user_id", "version", "event_type", "valid_from",
                F.coalesce(nxt, F.lit(-1)).alias("valid_to"), nxt.isNull().alias("is_current"), "n",
            ).collect()
        }

    def python_scd2(rows):
        out = {}
        by_user: dict[int, list] = {}
        for u, ts, eid, t in rows:
            by_user.setdefault(u, []).append((ts, eid, t))
        for u, evs in by_user.items():
            evs.sort()
            runs = []
            for ts, _eid, t in evs:
                if not runs or runs[-1][0] != t:
                    runs.append([t, ts, 0])
                runs[-1][2] += 1
            for v, (t, start, n) in enumerate(runs, start=1):
                nxt = runs[v][1] if v < len(runs) else -1
                out[(u, v)] = (t, start, nxt, v == len(runs), n)
        return out

    @settings(max_examples=12, deadline=None)
    @given(
        rows=st.lists(
            st.tuples(
                st.integers(min_value=1, max_value=3),     # user
                st.integers(min_value=0, max_value=50),    # ts_us
                st.integers(min_value=0, max_value=10**6), # event_id (tiebreak)
                st.sampled_from(["a", "b", "c"]),
            ),
            min_size=1,
            max_size=25,
            unique_by=lambda r: (r[0], r[1], r[2]),
        )
    )
    def check(rows):
        assert spark_scd2(rows) == python_scd2(rows)

    check()


def test_morton_interleave_known_answers():
    """operators/zorder.py Morton arithmetic vs a bit-twiddling Python
    reference, evaluated through BOTH dialects (DuckDB executes the
    duckdb dialect; the spark dialect string is checked by the query
    parity suite end-to-end)."""
    import duckdb

    from tracy_matdb_spark.operators.zorder import morton2_expr

    def py_morton(x: int, y: int) -> int:
        out = 0
        for i in range(16):
            out |= ((x >> i) & 1) << (2 * i)
            out |= ((y >> i) & 1) << (2 * i + 1)
        return out

    cases = [(0, 0), (1, 0), (0, 1), (65535, 0), (0, 65535),
             (65535, 65535), (12345, 54321), (255, 256)]
    con = duckdb.connect()
    for x, y in cases:
        got = con.execute(
            f"SELECT {morton2_expr('duckdb', str(x), str(y))}"
        ).fetchone()[0]
        assert got == py_morton(x, y), (x, y, got, py_morton(x, y))
    # z-order locality: interleaved keys of a 2x2 block are contiguous
    block = sorted(
        con.execute(f"SELECT {morton2_expr('duckdb', str(x), str(y))}").fetchone()[0]
        for x in (10, 11) for y in (4, 5)
    )
    assert block == list(range(block[0], block[0] + 4))


def test_zorder_beats_linear_layout(spark):
    """The whole point of the operator: for a 2-D box predicate the
    z-ordered layout's zonemaps must prune at least as well as the
    linear layout's, and strictly better once keys are dense (sf0.01+)."""
    from tracy_matdb_spark.queries import load_all

    reg = load_all()
    rows = {
        r["layout"]: r
        for r in reg["zorder_layout_pruning"].fn(spark, "/root/testdata/sf0.01").collect()
    }
    assert rows["zorder"]["rows_matching"] == rows["linear"]["rows_matching"]
    assert rows["zorder"]["rows_scanned"] < rows["linear"]["rows_scanned"]
    # zonemap soundness: pruning never scans fewer rows than match
    for r in rows.values():
        assert r["rows_scanned"] >= r["rows_matching"]


def test_per_group_topk_matches_naive_window(spark):
    """The two-phase sharded per-group top-k (phase 1: local top-k per
    hash shard, phase 2: exact rank over survivors) must equal the
    naive single-task window for every group — including groups smaller
    than k and duplicate order values resolved by the tiebreak."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from tracy_matdb_spark.operators.rank import per_group_topk

    # 4 groups x 250 rows with heavy score ties; group 4 has 3 rows (< k)
    df = spark.range(1003).selectExpr(
        "cast(CASE WHEN id >= 1000 THEN 4 ELSE id % 4 END as bigint) AS g",
        "id AS item",
        "cast((id * 37) % 50 as bigint) AS score",
    )
    got = (
        per_group_topk(
            df, ["g"], [F.col("score").desc()], ["item"], 7,
            shard_on="item", n_shards=4,
        )
        .orderBy("g", "rnk")
        .collect()
    )
    w = Window.partitionBy("g").orderBy(F.col("score").desc(), "item")
    want = (
        df.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= 7)
        .orderBy("g", "rnk")
        .collect()
    )
    assert [(r.g, r.item, r.score, r.rnk) for r in got] == [
        (r.g, r.item, r.score, r.rnk) for r in want
    ]
    assert len(got) == 4 * 7 + 3  # short group yields all its rows
