"""Shuffle-shape tools for the 100 TB deployment: skew-salted joins,
bucketed (co-located) tables and a two-pass running sum.

These are the levers the rest of the engine's plan shapes assume exist
at cluster scale but that local parquet testdata never exercises:

- ``salted_join``: a hash join on a key with heavy hitters (the exact
  situation ``skew_key_profile`` diagnoses) sends every row of a hot key
  to one reducer.  Salting splits each hot key into ``n_salts`` synthetic
  sub-keys: the large side scatters uniformly (pmod of a per-row hash),
  the small side replicates each hot key ``n_salts`` times, and the join
  key becomes ``(key, salt)`` — same result set, reducer load capped at
  ~1/n_salts of the hot key.  AQE's skew-join handles *sort-merge* spills
  automatically; explicit salting is still the tool when the skew sits in
  a hash aggregate feeding the join or when AQE is unavailable
  (streaming-static joins).

- ``write_bucketed`` / co-located joins: two facts bucketed AND
  sort-ordered by the same key join with ZERO exchange — the parquet
  layout is the shuffle, paid once at write time and amortized over every
  subsequent join/aggregate on that key (the warehouse pattern for a
  100 TB fact joined daily).  ``tests/test_shuffle_tools.py`` pins the
  no-Exchange plan.

- ``running_sum``: the exclusive running sum / global rank that
  ``row_number()`` or ``sum() OVER (ORDER BY ...)`` would compute on one
  task, as a range shuffle plus a broadcast offset fixup (the register's
  rank and prefix-sum queries use it).

All preserve exact result semantics (verified row-for-row against the
unsalted/unbucketed/window plans in tests).
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def salted_join(
    large: DataFrame,
    small: DataFrame,
    key: str,
    n_salts: int = 16,
    skewed_keys: Optional[Sequence] = None,
    how: str = "inner",
) -> DataFrame:
    """Skew-resistant equi-join: ``large ⋈ small ON large.key = small.key``
    with hot keys split across ``n_salts`` reducers.

    ``skewed_keys``: the hot key values (e.g. the output of the
    ``skew_key_profile`` diagnostic).  Only those replicate on the small
    side — cold keys join under salt 0 with no replication, so the
    small-side blowup is ``len(skewed_keys) * n_salts`` rows, not
    ``|small| * n_salts``.  With ``skewed_keys=None`` every key is treated
    as hot (full replication — fine when the small side is dimension-
    sized).

    The large side never replicates and never collects: its salt is
    ``pmod(xxhash64(monotonic row seed), n_salts)`` for hot keys and 0
    otherwise — pure column math, uniform by construction.
    """
    if how not in ("inner", "left", "left_semi"):
        # right/outer would duplicate small-side rows that match no salt
        raise ValueError(f"salted_join supports inner/left/left_semi, got {how}")
    if skewed_keys is not None:
        hot = F.col(key).isin(list(skewed_keys))
    else:
        hot = F.lit(True)

    lg = large.withColumn(
        "_salt",
        F.when(
            hot,
            F.pmod(
                F.xxhash64(*[F.col(c) for c in large.columns]),
                F.lit(n_salts),
            ).cast("int"),
        ).otherwise(F.lit(0)),
    )
    salts = F.when(
        hot, F.sequence(F.lit(0), F.lit(n_salts - 1))
    ).otherwise(F.array(F.lit(0)))
    sm = small.withColumn("_salt", F.explode(salts))
    out = lg.join(sm, [key, "_salt"], how)
    return out.drop("_salt")


def write_bucketed(
    df: DataFrame,
    table: str,
    key: str,
    buckets: int = 32,
    sort: bool = True,
) -> None:
    """Persist ``df`` as a bucketed (and optionally sort-ordered) managed
    table: every later equi-join or aggregate on ``key`` between tables
    bucketed the same way runs with NO exchange (and with ``sort=True``,
    no per-task sort either — the sort-merge join zips the buckets).

    This is write-once shuffle: at 100 TB the nightly fact load pays one
    ``buckets``-way hash distribution; every downstream join on the key is
    then embarrassingly parallel bucket-to-bucket work.
    """
    w = df.write.mode("overwrite").bucketBy(buckets, key)
    if sort:
        w = w.sortBy(key)
    w.saveAsTable(table)


def bucketed_join(
    spark: SparkSession, left_table: str, right_table: str, key: str, how: str = "inner"
) -> DataFrame:
    """Join two co-bucketed tables on their bucket key.  The plan contains
    no Exchange when both tables were written by :func:`write_bucketed`
    with the same bucket count."""
    return spark.table(left_table).join(spark.table(right_table), key, how)


def running_sum(
    df: DataFrame,
    order_cols: Sequence,
    val_col: Optional[str] = None,
    part_col: Optional[str] = None,
    out_col: str = "running_sum",
) -> DataFrame:
    """EXCLUSIVE running sum of ``val_col`` (1 per row when None) within
    each ``part_col`` group (the whole relation when None) under
    ``order_cols`` — the two-pass twin of ``sum(v) OVER (PARTITION BY key
    ORDER BY ... ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)``,
    emitted NULL-free (0 for a group's first row).  With ``val_col=None``
    it is the 0-based global index, so ``out_col + 1`` is the exact rank
    of ``row_number() OVER (ORDER BY ...)``; the caller must make
    ``order_cols`` a total order (include a unique tiebreak column), or
    ties make the result partition-layout-dependent.  ``order_cols``
    entries may be column names or Column sort expressions (e.g.
    ``F.col("score").desc()``).

    A window with an empty (or low-cardinality) partition spec moves the
    whole relation — or a dominant group — to one task: the classic
    100 TB deadend.  Three bounded steps instead:

    1. ``repartitionByRange(part_col, *order_cols)`` + sort WITHIN
       partitions — Spark's sampled range partitioner splits even one
       group across many globally ordered partitions, each sorted
       locally in parallel;
    2. partition-local running sums per group via mapInPandas (no
       shuffle; per-group carries across Arrow batches);
    3. per-(partition, group) totals (a relation bounded by the
       partition count times the groups) -> cumulative offsets by a
       window over that tiny relation -> broadcast join fixes the local
       sums up.

    The locally summed relation is PERSISTED through
    ``operators.cache_scope.persist`` before the totals pass: the totals
    leg and the fixup leg are otherwise two independent materializations
    of the same range shuffle, and nothing guarantees they agree on
    partitioning — the range partitioner's sample seed derives from the
    physical RDD lineage and AQE may coalesce the two shuffles
    differently, which desynchronizes ``_pid`` between the passes
    (observed as a silently empty join leg).  The cache pins ONE set of
    partitions for both legs; ``transient_cache_scope()`` or
    ``release_transient_caches()`` drops it.

    NULL values accumulate as 0, matching SQL ``sum``'s null-skipping.
    Integer values only: the accumulator is exact int64."""
    import pandas as pd
    from pyspark.sql import Window
    from pyspark.sql.types import IntegerType, LongType, StructField, StructType

    from summarydb_spark.operators.cache_scope import persist

    keys = [] if part_col is None else [part_col]
    order = [F.col(k) for k in keys] + [
        F.col(c) if isinstance(c, str) else c for c in order_cols
    ]
    d = df.repartitionByRange(*order).sortWithinPartitions(*order)
    schema_out = StructType(
        list(d.schema.fields)
        + [StructField("_pid", IntegerType()), StructField("_lx", LongType())]
    )

    def local_sums(it):
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        carry: dict = {}
        for pdf in it:
            one = pd.Series(1, index=pdf.index, dtype="int64")
            v = one if val_col is None else pdf[val_col].fillna(0).astype("int64")
            k = 0 * one if part_col is None else pdf[part_col]
            g = v.groupby(k, sort=False, dropna=False)
            lx = g.cumsum() - v + k.map(carry).fillna(0).astype("int64")
            for key, t in g.sum().items():
                carry[key] = carry.get(key, 0) + int(t)
            yield pdf.assign(_pid=pid, _lx=lx)

    d = persist(d.mapInPandas(local_sums, schema_out))
    v = F.lit(1) if val_col is None else F.col(val_col)
    totals = d.groupBy("_pid", *keys).agg(F.sum(v).alias("_t"))
    w_off = (
        Window.partitionBy(*keys)
        .orderBy("_pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    fixups = totals.select(
        F.col("_pid").alias("_fix_pid"),
        *[F.col(k).alias("_fix_key") for k in keys],
        F.coalesce(F.sum("_t").over(w_off), F.lit(0)).alias("_off"),
    )
    on = F.col("_pid") == F.col("_fix_pid")
    for k in keys:
        on = on & F.col(k).eqNullSafe(F.col("_fix_key"))
    return (
        d.join(F.broadcast(fixups), on)
        .withColumn(out_col, (F.col("_lx") + F.col("_off")).cast("long"))
        .drop("_pid", "_lx", "_fix_pid", "_fix_key", "_off")
    )
