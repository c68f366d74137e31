"""Decayed summary-window construction as DataFrame plans.

The reference maintains the decayed window list incrementally (merge heap,
core/merger.go); at any element count N the canonical partition is a pure
function of N and the windowing policy (see summarydb_spark.windowing).  We
therefore build ``summary_windows`` declaratively:

    events -> per-stream insertion index -> bucket assignment -> groupBy/agg

For exponential base 2 (the reference's default config) bucket assignment is
a closed-form integer/bit expression (windowing.exp2_bucket_sql) — pure
whole-stage-codegen column math, no UDF, no driver state, valid at any N.
For general sequences the canonical boundaries are simulated on the driver
(O(#windows) result size) and binned as literal boundary arrays in JVM
expressions when the stream sizes are few enough to enumerate, else with a
vectorized Arrow-batched pandas UDF (np.searchsorted, O(log W) per row).
``bucketed_configs`` buckets streams under several policies in one pass.

Scale notes (100 TB):
- the per-stream insertion index uses a window function, which shuffles by
  stream_id and parallelizes across streams: one stream is one task.  A
  range-partitioned two-pass index (as in
  ``operators.shuffle_tools.running_sum``) would split a giant stream, but
  measured 2-3x the CPU at 24 x 400 and 2 x 100k events, so the window is
  the only index until a workload with giant streams shows otherwise.
- the final groupBy(stream_id, bucket) is a partial-aggregate-friendly
  hash aggregation: ~log(N) groups per stream, so the shuffle output is
  tiny regardless of input size.
- all aggregates (count/sum/max/min) are commutative monoids, exactly
  Spark's partial-aggregation contract (reference notes the same,
  core/op_set.go:51-55).
"""

from __future__ import annotations

from functools import reduce
from typing import Optional

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from summarydb_spark.session import local_frame
from summarydb_spark.windowing import (
    ExpWindowing,
    canonical_boundaries,
    exp2_bucket_sql,
)

SUMMARY_COLS = [
    "stream_id",
    "window_id",
    "time_start",
    "time_end",
    "count_start",
    "count_end",
    "count",
    "sum",
    "max",
    "min",
]

#: Parquet read schema of a summary store version: ``SUMMARY_COLS`` plus
#: the ``sid`` partition column (a copy of stream_id).  A read without it
#: runs a one-task schema-inference job.
SUMMARY_SCHEMA = T.StructType(
    [
        T.StructField(c, T.DoubleType() if c in ("sum", "max", "min") else T.LongType())
        for c in SUMMARY_COLS
    ]
    + [T.StructField("sid", T.LongType())]
)


def clamp_monotonic(
    df: DataFrame,
    stream_col: str = "stream_id",
    ts_col: str = "ts",
    order_col: str = "seq",
    last_ts=None,
) -> DataFrame:
    """Reproduce the reference's out-of-order clamp ``ts' = max(ts, prev+1)``
    (core/pipeline.go:80-84) as column math.

    The sequential recurrence ``t'_i = max(t_i, t'_{i-1} + 1)`` has the
    closed form ``t'_i = i + running_max(t_j - j)``, which is a cumulative
    max window — fully parallel per stream partition, no driver loop.

    ``last_ts`` optionally continues the chain across batches: either a
    DataFrame ``(stream_col, last_ts)`` (the scale path — broadcast-joined,
    so plan size stays O(1) in #streams) or a small mapping stream_id ->
    last timestamp (converted to the same join).
    """
    w = (
        Window.partitionBy(stream_col)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    idx = F.row_number().over(Window.partitionBy(stream_col).orderBy(order_col)) - F.lit(1)
    df = df.withColumn("_i", idx)
    clamped = F.col("_i") + F.max(F.col(ts_col) - F.col("_i")).over(w)
    if last_ts is not None:
        if not isinstance(last_ts, DataFrame):
            if not last_ts:
                return df.withColumn(ts_col, clamped).drop("_i")
            last_ts = local_frame(
                df.sparkSession,
                [(k, int(v)) for k, v in last_ts.items()],
                df.select(stream_col).schema.add("last_ts", "long"),
            )
        prev = last_ts.select(
            F.col(stream_col).alias("_clamp_sid"),
            F.col("last_ts").alias("_last_ts"),
        )
        df = df.join(
            F.broadcast(prev), F.col(stream_col) == F.col("_clamp_sid"), "left"
        ).drop("_clamp_sid")
        # greatest() skips NULLs, so streams with no prior state keep the
        # in-batch clamp unchanged
        clamped = F.greatest(clamped, F.col("_last_ts") + 1 + F.col("_i"))
        return df.withColumn(ts_col, clamped).drop("_i", "_last_ts")
    return df.withColumn(ts_col, clamped).drop("_i")


def _with_index(df: DataFrame, stream_col: str, ts_col: str, order_cols) -> DataFrame:
    """Add per-stream insertion index ``idx`` (0-based, oldest first) and
    stream size ``n``: one row_number window per stream, so parallelism
    is the number of streams (the reference's many-streams layout)."""
    order = [F.col(ts_col).asc()] + [F.col(c).asc() for c in order_cols]
    w = Window.partitionBy(stream_col).orderBy(*order)
    wn = Window.partitionBy(stream_col)
    return df.withColumn("idx", F.row_number().over(w).cast("long") - 1).withColumn(
        "n", F.count(F.lit(1)).over(wn)
    )


def bucket_expr_exp2(idx: Column | str = "idx", n: Column | str = "n") -> Column:
    """Closed-form canonical exp(2) bucket (newest window = bucket 0)."""
    rank = f"(({n}) - 1 - ({idx}))"
    return F.expr(exp2_bucket_sql(rank, str(n)))


def with_exp2_bucket(
    df: DataFrame,
    idx_col: str = "idx",
    n_col: str = "n",
    out_col: str = "bucket",
) -> DataFrame:
    """Staged-column version of the exp(2) closed form.

    The single-expression form (exp2_bucket_sql) macro-expands to ~22KB of
    SQL with 600+ casts: inlined into a whole-stage-codegen'd
    filter/aggregate it overflows the JVM constant pool and drops the stage
    to interpreted mode.  Staging each sub-term as a named column that is
    referenced more than once keeps CollapseProject from re-inlining
    (multiply-used non-cheap aliases are preserved), so every generated
    method stays small.  Semantics identical to bucket_expr_exp2 —
    the golden-parity tests cover both paths.
    """
    rank = (F.col(n_col) - 1 - F.col(idx_col)).alias("_rank")
    n1 = (F.col(n_col) + 1).cast("double")
    t0 = F.floor(F.log2(n1)).cast("long")
    df = df.withColumn("_rank", rank).withColumn("_t0", t0)
    # off-by-one fixup: Spark computes log2 as ln/ln, 1 ulp off at powers of 2
    p = lambda k: F.pow(F.lit(2.0), k.cast("double")).cast("long")  # noqa: E731
    t = (
        F.when(p(F.col("_t0") + 1) <= F.col(n_col) + 1, F.col("_t0") + 1)
        .when(p(F.col("_t0")) > F.col(n_col) + 1, F.col("_t0") - 1)
        .otherwise(F.col("_t0"))
    )
    df = df.withColumn("_t", t)
    df = df.withColumn("_m", F.col(n_col) - p(F.col("_t")) + 1)

    def c(k: Column) -> Column:  # C_k cumulative count; C_(-1) = 0
        mask = p(k + 1) - 1
        return mask + F.col("_m").bitwiseAND(mask)

    a = F.greatest(
        F.ceil(F.log2((F.col("_rank") + 2).cast("double"))).cast("long") - 3,
        F.lit(0).cast("long"),
    )
    df = df.withColumn("_a", a)
    k = F.when(F.col("_rank") < c(F.col("_a")), F.col("_a"))
    for i in range(1, 4):
        k = k.when(F.col("_rank") < c(F.col("_a") + i), F.col("_a") + i)
    k = k.otherwise(F.col("_a") + 4)
    df = df.withColumn("_k", k)
    c_prev = F.when(F.col("_k") == 0, F.lit(0).cast("long")).otherwise(
        c(F.col("_k") - 1)
    )
    below = F.col("_k") + F.bit_count(
        F.col("_m").bitwiseAND(p(F.col("_k")) - 1)
    ).cast("long")
    within = F.floor(
        (F.col("_rank") - c_prev).cast("double") / p(F.col("_k")).cast("double")
    ).cast("long")
    df = df.withColumn(out_col, below + within)
    return df.drop("_rank", "_t0", "_t", "_m", "_a", "_k")


#: Driver-enumerable boundary-binning limits for the JVM path in
#: bucketed_events: at most this many DISTINCT stream sizes (one
#: O(log n) boundary-array literal each keeps the plan small), and at
#: most this TOTAL replay cost (canonical_boundaries is an O(n log n)
#: merge-process replay per distinct size — the same work the pandas
#: UDF does per executor, done once on the driver instead).  Beyond
#: either bound the executor-memoized UDF remains the right tool.
JVM_BIN_MAX_DISTINCT_N = 512
JVM_BIN_MAX_TOTAL_REPLAY = 8_000_000


def _jvm_boundary_bucket(
    windowing, buffer_size: int, ns, idx_col: str = "idx", n_col: str = "n"
) -> Column:
    """Literal boundary-array binning in pure JVM expressions.

    For each enumerated stream size n the canonical upper boundaries
    [b1..bK=n] become an array literal; the bucket of an element is
    #{b : b <= idx} — exactly searchsorted(boundaries, idx, 'right')-1,
    the same binning the pandas UDF computes, with no Python worker and
    no Arrow transfer in the ingest pass.  A stream size that was not
    enumerated at plan time (the registry's size disagrees with the
    stream's events, or a nondeterministic upstream changed the counts
    between the enumeration job and the main pass) raises loudly
    instead of binning garbage."""
    expr = None
    for nn in ns:
        bnds = canonical_boundaries(windowing, int(nn), buffer_size)
        arr = F.array(*[F.lit(int(b)).cast("long") for b in bnds[1:]])
        bucket = F.size(F.filter(arr, lambda b: b <= F.col(idx_col)))
        cond = F.col(n_col) == int(nn)
        expr = F.when(cond, bucket) if expr is None else expr.when(cond, bucket)
    guard = F.raise_error(
        F.concat(
            F.lit("stream size "),
            F.col(n_col).cast("string"),
            F.lit(
                " was not enumerated at plan time (registry size out of date,"
                " or nondeterministic input?)"
            ),
        )
    )
    return (guard if expr is None else expr.otherwise(guard)).cast("long")


def _bucket_udf_general(windowing, buffer_size: int):
    """Vectorized searchsorted binning against canonical boundaries.

    The boundaries are a pure function of the stream's element count ``n``
    (not of the stream identity), so they are simulated INSIDE the executor
    from the ``n`` column, memoized per distinct n per python worker — no
    driver-collected per-stream dict, no O(#streams) closure state.  Streams
    sharing a count share one boundary array; the windowing policy itself is
    a few bytes in the serialized closure."""
    memo: dict = {}

    def bounds_for(nn: int) -> np.ndarray:
        b = memo.get(nn)
        if b is None:
            b = np.asarray(
                canonical_boundaries(windowing, int(nn), buffer_size),
                dtype=np.int64,
            )
            memo[nn] = b
        return b

    @pandas_udf("long")
    def bucket_of(idx: pd.Series, n: pd.Series) -> pd.Series:
        out = np.empty(len(idx), dtype=np.int64)
        iv = idx.to_numpy()
        nv = n.to_numpy()
        for nn in pd.unique(nv):
            mask = nv == nn
            # bucket in oldest->newest numbering
            out[mask] = np.searchsorted(bounds_for(int(nn)), iv[mask], side="right") - 1
        return pd.Series(out)

    return bucket_of


def _is_exp2(windowing, buffer_size: int) -> bool:
    return (
        isinstance(windowing, ExpWindowing)
        and windowing.base == 2.0
        and buffer_size <= 0
    )


def _enumerate_sizes(events: DataFrame, stream_col: str) -> list:
    """Distinct per-stream sizes of ``events``: one tiny count-distinct job
    over the RAW events (map-side partial agg — the window/index stage is
    not re-executed).  LIMIT N+1 bounds the driver transfer: a
    heterogeneous corpus with millions of distinct sizes ships at most
    513 rows before the caller's budget check routes it to the UDF (an
    unbounded collect here would pay an O(#distinct-sizes) driver stall
    exactly in the regime the UDF fallback exists for)."""
    return sorted(
        int(r["_n_"])
        for r in events.groupBy(F.col(stream_col))
        .agg(F.count(F.lit(1)).alias("_n_"))
        .select("_n_")
        .distinct()
        .limit(JVM_BIN_MAX_DISTINCT_N + 1)
        .collect()
    )


def bucketed_events(
    events: DataFrame,
    windowing,
    *,
    stream_col: str = "stream_id",
    ts_col: str = "ts",
    value_col: str = "value",
    order_cols: tuple = (),
    buffer_size: int = 0,
) -> DataFrame:
    """Events annotated with per-stream insertion index ``idx``, stream
    size ``n`` and canonical decay ``bucket`` — the shared first stage of
    the summary build and any per-window sketch build.  Single-config
    form of :func:`bucketed_configs`; a general policy pays one
    size-enumeration job."""
    return bucketed_configs(
        events,
        [(windowing, buffer_size, None, None)],
        stream_col=stream_col,
        ts_col=ts_col,
        value_col=value_col,
        order_cols=order_cols,
    )


def bucketed_configs(
    events: DataFrame,
    configs,
    *,
    stream_col: str = "stream_id",
    ts_col: str = "ts",
    value_col: str = "value",
    order_cols: tuple = (),
) -> DataFrame:
    """:func:`bucketed_events` for streams under several windowing
    configs in ONE pass: one index window over all events, then
    :func:`bucket_by_config`.

    ``configs``: ``(windowing, buffer_size, stream_ids, sizes)`` tuples as
    in :func:`bucket_by_config`, except that ``sizes=None`` for a general
    policy enumerates the sizes with one job (the UDF bins them only when
    there are too many for the JVM literals).
    """
    ev = _with_index(
        events.select(
            F.col(stream_col).alias("stream_id"),
            F.col(ts_col).cast("long").alias("ts"),
            F.col(value_col).cast("double").alias("value"),
            *[F.col(c) for c in order_cols],
        ),
        "stream_id",
        "ts",
        order_cols,
    )
    sized = []
    for windowing, buf, sids, ns in configs:
        if ns is None and not _is_exp2(windowing, buf):
            ns = _enumerate_sizes(events, stream_col)
        sized.append((windowing, buf, sids, ns))
    return bucket_by_config(ev, sized)


def bucket_by_config(
    ev: DataFrame, configs, *, idx_col: str = "idx", n_col: str = "n"
) -> DataFrame:
    """Attach the canonical decay ``bucket`` to rows that already carry
    ``stream_id``, an insertion index ``idx_col`` and their stream's size
    ``n_col``, under one or several windowing configs.

    ``configs``: ``(windowing, buffer_size, stream_ids, sizes)`` tuples.
    ``stream_ids`` selects the config's streams (None = every row; only
    for a single config).  ``sizes`` are the config's stream sizes when
    known on the driver — the JVM boundary literals are built from them,
    and a row whose size is missing raises in the binning guard; None
    leaves a general policy to the pandas UDF.

    Bucket assignment per config:
    - exp(2) without buffer: the closed form (staged columns, computed
      once for all rows);
    - known sizes within ``JVM_BIN_MAX_*``: literal boundary arrays in
      JVM expressions;
    - otherwise the executor-memoized pandas UDF.
    The closed-form and JVM configs share one CASE projection, which
    raises on a row of a stream under no config.  Each UDF config buckets
    only its own rows, in a filtered branch unioned in, so no other
    config's rows pass through a Python worker.
    """
    cases, branches = [], []  # cases: (member, bucket column or None = exp2)
    udf_sids: list = []
    for windowing, buf, sids, ns in configs:
        member = None if sids is None else F.col("stream_id").isin([int(s) for s in sids])
        if _is_exp2(windowing, buf):
            cases.append((member, None))
            continue
        ns = None if ns is None else sorted({int(x) for x in ns if x > 0})
        if (
            ns is not None
            and len(ns) <= JVM_BIN_MAX_DISTINCT_N
            and sum(ns) <= JVM_BIN_MAX_TOTAL_REPLAY
        ):
            cases.append(
                (member, _jvm_boundary_bucket(windowing, buf, ns, idx_col, n_col))
            )
        else:
            udf = _bucket_udf_general(windowing, buf)
            rows = ev if member is None else ev.where(member)
            udf_sids += [] if sids is None else [int(s) for s in sids]
            branches.append(rows.withColumn("bucket", udf(F.col(idx_col), F.col(n_col))))
    if cases:
        rows = ev
        if branches:  # the UDF configs' rows are bucketed in their branches
            rows = ev.where(~F.col("stream_id").isin(udf_sids))
        if any(col is None for _m, col in cases):
            rows = with_exp2_bucket(rows, idx_col, n_col, "_exp2_bucket")
        bucket = None
        for member, col in cases:
            col = F.col("_exp2_bucket") if col is None else col
            if member is None:  # a single config over every row
                bucket = col
                break
            bucket = F.when(member, col) if bucket is None else bucket.when(member, col)
        else:
            bucket = bucket.otherwise(
                F.raise_error(
                    F.concat(
                        F.lit("stream "),
                        F.col("stream_id").cast("string"),
                        F.lit(" has no windowing config"),
                    )
                )
            )
        branches.insert(0, rows.withColumn("bucket", bucket).drop("_exp2_bucket"))
    return reduce(DataFrame.unionByName, branches)


def summary_aggs() -> list:
    """The per-window summary aggregates over bucketed events (window
    bounds, insertion-index span, count/sum/max/min)."""
    return [
        F.min("ts").alias("time_start"),
        F.max("ts").alias("time_end"),
        F.min("idx").alias("count_start"),
        F.max("idx").alias("count_end"),
        F.count(F.lit(1)).alias("count"),
        F.sum("value").alias("sum"),
        F.max("value").alias("max"),
        F.min("value").alias("min"),
    ]


def summarize_bucketed(ev: DataFrame) -> DataFrame:
    """groupBy monoid merge of bucketed events into ``SUMMARY_COLS``."""
    return (
        ev.groupBy("stream_id", "bucket")
        .agg(*summary_aggs())
        .withColumn("window_id", F.col("count_start"))
        .select(*SUMMARY_COLS)
    )


def build_summary_windows(
    events: DataFrame,
    windowing,
    *,
    stream_col: str = "stream_id",
    ts_col: str = "ts",
    value_col: str = "value",
    order_cols: tuple = (),
    buffer_size: int = 0,
) -> DataFrame:
    """Build the canonical decayed ``summary_windows`` table for a batch.

    Input: raw events ``(stream_id, ts: long, value: double, [order cols])``.
    Output schema: ``SUMMARY_COLS`` — one row per canonical window, exactly
    the reference's SummaryWindow + DataTable (core/summary_window.go:13-19,
    core/data.go:9-21) with the promised-but-unbuilt ``min`` included.
    """
    return summarize_bucketed(
        bucketed_events(
            events,
            windowing,
            stream_col=stream_col,
            ts_col=ts_col,
            value_col=value_col,
            order_cols=order_cols,
            buffer_size=buffer_size,
        )
    )
