"""Skew-safe aggregation: explicit two-stage salted rollups.

The reference never aggregates at a scale where key skew matters (its
rollups are per-group counts over folders, database/__init__.py:930-982).
At 100 TB a `groupBy(hot_key)` can put one key's entire volume on one
reducer. AQE rebalances *joins* on skew, but an aggregation over a hot
key still funnels every pre-aggregated partial for that key to a single
task — usually fine (partials are small), EXCEPT when the per-key state
is wide (collect_list/collect_set, exact distinct sets, large sketches).

`salted_agg` shards each key into `n_salts` sub-keys derived from a
*data* column (deterministic — no rand(), so retries/speculative tasks
reproduce the same shards), runs the wide stage-1 aggregation per
(key, salt), then merges the bounded per-shard partials in stage 2.
"""

from __future__ import annotations

from typing import Callable, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def salted_agg(
    df: DataFrame,
    keys: Sequence[str],
    shard_on: str,
    stage1: list[Column],
    stage2: Callable[[DataFrame], list[Column]],
    n_salts: int = 16,
) -> DataFrame:
    """Two-stage aggregation: stage1 aggs run per (keys..., salt) where
    salt = hash(shard_on) % n_salts; stage2 merges shard partials per keys.

    stage1 columns must be *mergeable* (their stage-2 combiner exists):
    count -> sum, sum -> sum, min -> min, collect_set -> flatten+distinct.
    The caller supplies the stage-2 exprs via `stage2(sharded_df)`.

    Sharpest special case: when `shard_on` IS the collected/distinct
    column, shards are DISJOINT in that column, so distinct-count merges
    as a plain SUM of per-shard sizes — no re-flatten, stage 2 carries
    one int per shard. That form beats the naive hot-key groupBy in the
    skew stress (tools/scaling.py:skew_stress, SCALING.json).
    """
    salt = (F.xxhash64(F.col(shard_on)) % n_salts + n_salts) % n_salts
    sharded = (
        df.withColumn("__salt", salt.cast("int"))
        .groupBy(*keys, "__salt")
        .agg(*stage1)
    )
    return sharded.groupBy(*keys).agg(*stage2(sharded))


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    key: str,
    shard_on: str,
    n_salts: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-safe equi-join: AQE's skew-join splits oversized *partitions*,
    but a single hot key value still lands in one task's hash bucket. Here
    each fact row gets a deterministic salt from `shard_on` (a data
    column — retries reproduce it), the dim side is replicated across all
    `n_salts` salts, and the join runs on (key, salt): a hot key's rows
    spread over n_salts tasks at the cost of an n_salts-times dim
    replication. Use when the dim is too big to broadcast but n_salts
    copies still fit the shuffle (the classic mid-size-dim skew regime).
    Result is salt-invariant: identical to the plain join for any n_salts
    (oracle-checked by events_salted_type_join).
    """
    salt = ((F.xxhash64(F.col(shard_on)) % n_salts + n_salts) % n_salts).cast("int")
    f = fact.withColumn("__salt", salt)
    d = dim.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    ).withColumn("__salt", F.col("__salt").cast("int"))
    return f.join(d, [key, "__salt"], how).drop("__salt")
