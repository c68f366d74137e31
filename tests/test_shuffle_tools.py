"""Skew salting and bucketed co-located joins: exact result parity with
the naive plans, plus the plan properties that matter at 100 TB (salted
join key widens to (key, salt); bucketed join has NO exchange)."""

from __future__ import annotations

import contextlib
import io

import pytest
from pyspark.sql import functions as F

from summarydb_spark.operators.shuffle_tools import (
    bucketed_join,
    salted_join,
    write_bucketed,
)

SF_DIR = "/root/testdata/sf0.001"


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode="formatted")
    return buf.getvalue()


def _canon(df):
    cols = sorted(df.columns)
    return sorted(tuple(str(v) for v in row) for row in df.select(cols).collect())


@pytest.fixture(scope="module")
def events(spark):
    return spark.read.parquet(f"{SF_DIR}/events.parquet").select(
        "event_id", "user_id", "value"
    )


@pytest.fixture(scope="module")
def dim(spark):
    # small per-user dimension
    return (
        spark.read.parquet(f"{SF_DIR}/events.parquet")
        .groupBy("user_id")
        .agg(F.count("*").alias("n_user"))
    )


def test_salted_join_matches_plain_join(spark, events, dim):
    plain = events.join(dim, "user_id")
    salted = salted_join(events, dim, "user_id", n_salts=8)
    assert _canon(salted) == _canon(plain)


def test_salted_join_hot_keys_only(spark, events, dim):
    hot = [r["user_id"] for r in dim.orderBy(F.desc("n_user")).limit(3).collect()]
    plain = events.join(dim, "user_id")
    salted = salted_join(events, dim, "user_id", n_salts=8, skewed_keys=hot)
    assert _canon(salted) == _canon(plain)
    # replication is bounded: |small side after salting| = |small| + hot*(n-1)
    sm = dim.withColumn(
        "_salt",
        F.explode(
            F.when(
                F.col("user_id").isin(hot), F.sequence(F.lit(0), F.lit(7))
            ).otherwise(F.array(F.lit(0)))
        ),
    )
    assert sm.count() == dim.count() + len(hot) * 7


def test_salted_join_key_includes_salt(spark, events, dim):
    plan = _plan(salted_join(events, dim, "user_id", n_salts=8))
    assert "_salt" in plan  # the join key carries the salt column
    assert "CartesianProduct" not in plan


def test_salted_join_left_preserves_unmatched(spark, events, dim):
    missing = dim.where("user_id < 0")  # empty dim
    out = salted_join(events, missing, "user_id", n_salts=4, how="left")
    assert out.count() == events.count()
    assert out.where(F.col("n_user").isNull()).count() == events.count()


def test_salted_join_rejects_right_join(spark, events, dim):
    with pytest.raises(ValueError):
        salted_join(events, dim, "user_id", how="right")


def test_bucketed_join_has_no_exchange(spark, events, dim, tmp_path_factory):
    loc = tmp_path_factory.mktemp("warehouse")
    spark.sql(f"CREATE DATABASE IF NOT EXISTS bktest LOCATION '{loc}'")
    # at test scale the planner would (correctly) broadcast the tiny dim;
    # the co-located path is for the 100 TB case where NEITHER side
    # broadcasts — force that regime to pin the plan property
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        write_bucketed(events, "bktest.ev_b", "user_id", buckets=8)
        write_bucketed(dim, "bktest.dim_b", "user_id", buckets=8)
        joined = bucketed_join(spark, "bktest.ev_b", "bktest.dim_b", "user_id")
        plan = _plan(joined)
        # the bucketed layout IS the shuffle: no Exchange on either side,
        # and the write-time sortBy means no per-task Sort either
        assert "Exchange" not in plan
        assert "SortMergeJoin" in plan
        assert _canon(joined) == _canon(events.join(dim, "user_id"))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP DATABASE IF EXISTS bktest CASCADE")


def test_global_rank_matches_window_row_number(spark, events):
    """running_sum + 1 (the global rank) must equal row_number() OVER
    (ORDER BY ...) exactly — ascending, descending, and multi-column
    orders — without planning an unpartitioned WindowExec over the input
    (round-9 VERDICT item 1)."""
    from pyspark.sql import Window

    from summarydb_spark.operators.cache_scope import release_transient_caches
    from summarydb_spark.operators.shuffle_tools import running_sum

    cases = [
        (["event_id"], [F.col("event_id").asc()]),
        ([F.col("value").desc(), F.col("event_id")],
         [F.col("value").desc(), F.col("event_id").asc()]),
    ]
    for rank_order, win_order in cases:
        got = {
            (r["event_id"], r["rnk"])
            for r in running_sum(events, rank_order, out_col="ix")
            .select("event_id", (F.col("ix") + 1).alias("rnk"))
            .collect()
        }
        want = {
            (r["event_id"], r["rnk"])
            for r in events.withColumn(
                "rnk", F.row_number().over(Window.orderBy(*win_order)).cast("long")
            )
            .select("event_id", "rnk")
            .collect()
        }
        assert got == want
    assert release_transient_caches() >= 2


def test_global_rank_empty_input(spark, events):
    from summarydb_spark.operators.cache_scope import release_transient_caches
    from summarydb_spark.operators.shuffle_tools import running_sum

    empty = events.where(F.lit(False))
    assert running_sum(empty, ["event_id"]).count() == 0
    release_transient_caches()


def test_partitioned_prefix_sum_matches_window(spark):
    """Two-phase per-group exclusive prefix sum == the window cumsum,
    including on a 95%-one-group skewed input (the regime the helper
    exists for) and with NULL values (accumulate as 0, like SQL sum)."""
    from pyspark.sql import Window

    from summarydb_spark.operators.cache_scope import release_transient_caches
    from summarydb_spark.operators.shuffle_tools import running_sum

    rows = [(("big" if i % 20 != 0 else f"s{i % 3}"), i,
             None if i % 97 == 0 else (i * 7) % 101) for i in range(5000)]
    df = spark.createDataFrame(rows, "lang string, doc_id long, n_tok int")

    got = {
        (r["lang"], r["doc_id"], r["pc"])
        for r in running_sum(
            df, ["doc_id"], val_col="n_tok", part_col="lang", out_col="pc"
        ).collect()
    }
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    want = {
        (r["lang"], r["doc_id"], r["pc"])
        for r in df.withColumn(
            "pc", F.coalesce(F.sum("n_tok").over(w), F.lit(0)).cast("long")
        ).collect()
    }
    assert got == want
    release_transient_caches()


def _cached_legs(df):
    """(cache ids read by the join's left leg, by its right leg) in the
    optimized plan of a running_sum result — the left leg is the fixup
    join's row side, the right leg the broadcast per-partition totals."""
    jvm = df.sparkSession._jvm

    def cache_ids(node) -> set:
        if node.nodeName() == "InMemoryRelation":
            return {jvm.System.identityHashCode(node.cacheBuilder())}
        kids = node.children()
        return set().union(*[cache_ids(kids.apply(i)) for i in range(kids.size())])

    def find_join(node):
        if node.nodeName() == "Join":
            return node
        kids = node.children()
        for i in range(kids.size()):
            j = find_join(kids.apply(i))
            if j is not None:
                return j
        return None

    join = find_join(df._jdf.queryExecution().optimizedPlan())
    assert join is not None
    return cache_ids(join.left()), cache_ids(join.right())


def test_running_sum_pins_one_cached_relation(spark, events):
    """Both passes of the running sum — the per-partition totals and the
    fixup join — must read ONE cached relation, so the two range shuffles
    cannot disagree on partitioning (a silently empty join leg).  Holds
    grouped and ungrouped, under a descending order and on empty input;
    the descending grouped sums also equal the window form."""
    from pyspark.sql import Window

    from summarydb_spark.operators.cache_scope import transient_cache_scope
    from summarydb_spark.operators.shuffle_tools import running_sum

    grouped = events.withColumn("g", F.col("user_id") % 3)
    with transient_cache_scope():
        calls = [
            running_sum(events, ["event_id"]),
            running_sum(events, [F.col("value").desc(), F.col("event_id")]),
            running_sum(
                grouped, [F.col("event_id").desc()], val_col="user_id", part_col="g"
            ),
            running_sum(events.where(F.lit(False)), ["event_id"]),
            running_sum(
                grouped.where(F.lit(False)), ["event_id"], val_col="user_id", part_col="g"
            ),
        ]
        for out in calls:
            left, right = _cached_legs(out)
            assert len(left) == 1 and left == right, (left, right)
        assert calls[3].count() == 0 and calls[4].count() == 0

        w = (
            Window.partitionBy("g")
            .orderBy(F.col("event_id").desc())
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        want = grouped.withColumn(
            "running_sum", F.coalesce(F.sum("user_id").over(w), F.lit(0)).cast("long")
        )
        assert _canon(calls[2]) == _canon(want)
