"""Incremental (streaming) maintenance of the decayed summary table.

The reference maintains decay with a merge heap processing one append at a
time (core/merger.go:106-127, :209-239).  The Spark-native equivalent
exploits the same invariant the heap relies on: **canonical windows only
coarsen** — once two elements share a window at count N they share one at
every N' > N (the merge scheduler computes exactly the first such N,
window/generic_windowing.go:82-120).  Therefore the canonical state at
N + B is reachable from the canonical state at N by *merging whole old
windows* plus bucketing the B new events — no old window ever splits.

So a micro-batch update is:

    units = old summary windows (pre-aggregated)  UNION  new events (singletons)
    bucket(unit) = canonical bucket of the unit's count interval at new N
    groupBy(stream_id, bucket) -> monoid merge (count/sum/max/min, time/count bounds)

Cost per batch: O(streams * log N) state rows + O(B) new rows through one
hash aggregation — independent of history size.  This is the scale path
for 100 TB streams; the batch rebuild (operators/summary.py) remains the
oracle in tests.
"""

from __future__ import annotations

from typing import Mapping, Optional, Union

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from summarydb_spark.operators.summary import SUMMARY_COLS, bucket_by_config
from summarydb_spark.session import local_frame

_UNIT_COLS = [
    "stream_id",
    "count_start",
    "count_end",
    "time_start",
    "time_end",
    "count",
    "sum",
    "max",
    "min",
]

# Per-stream counts flow through these functions as DataFrames
# ``(stream_id, n)`` so neither the driver nor the query plan ever holds
# O(#streams) state (a Mapping is accepted for convenience and converted).
CountsLike = Union[DataFrame, Mapping[int, int], None]

# ``windowing`` may be one policy for every stream, or a per-stream map
# {stream_id: policy} — the reference fixes policy per stream at creation
# (core/db.go:61-80), so a mixed-policy source is the normal case.
WindowingLike = Union[object, Mapping[int, object]]


def _bucket_units(
    units: DataFrame, windowing: WindowingLike, buffer_size: int, idx_col: str
) -> DataFrame:
    """Attach the canonical bucket at each stream's new size ``_n``,
    routing PER-STREAM policies: a mapping groups its streams by
    identical policy config, and ``summary.bucket_by_config`` buckets the
    groups in one plan (the exp2 closed form where possible, else the
    general bucket UDF — the sizes live in a DataFrame, not on the
    driver).  Streams not covered by the mapping are the CALLER's error
    to catch (StreamingSummarizer raises loudly)."""
    if not isinstance(windowing, Mapping):
        configs = [(windowing, buffer_size, None, None)]
    elif not windowing:
        raise ValueError("empty per-stream windowing map")
    else:
        by_cfg: dict = {}
        for sid, w in windowing.items():
            p = w.params() if hasattr(w, "params") else vars(w)
            key = (type(w).__name__, repr(sorted(p.items())))
            by_cfg.setdefault(key, (w, []))[1].append(int(sid))
        configs = [(w, buffer_size, sids, None) for w, sids in by_cfg.values()]
    return bucket_by_config(units, configs, idx_col=idx_col, n_col="_n")


def _counts_df(ref: DataFrame, counts: CountsLike) -> Optional[DataFrame]:
    """Normalize counts to a ``(stream_id, n)`` DataFrame (None if empty)."""
    if counts is None:
        return None
    if isinstance(counts, DataFrame):
        return counts.select("stream_id", "n")
    if not counts:
        return None
    return local_frame(
        ref.sparkSession,
        [(int(k), int(v)) for k, v in counts.items()],
        "stream_id long, n long",
    )


def _carry_counts(nc: DataFrame, carried: Optional[DataFrame]) -> DataFrame:
    """Extend the per-stream post-batch totals with counts derived from
    carried-over state, for streams present in the old summary/sketch
    state but absent from BOTH the batch and base_counts.  Without this,
    _with_base fills _n = 0 for those streams and their carried windows
    re-bucket at a garbage rank (negative count_end - _n), corrupting the
    persisted state.  ``carried`` is (stream_id, n) derived from the old
    state itself; batch/base counts win when present."""
    if carried is None:
        return nc
    c = carried.select(
        F.col("stream_id").alias("_c_sid"), F.col("n").alias("_carry_n")
    )
    return (
        nc.join(c, nc["stream_id"] == c["_c_sid"], "full_outer")
        .select(
            F.coalesce(nc["stream_id"], c["_c_sid"]).alias("stream_id"),
            F.coalesce(nc["n"], c["_carry_n"]).cast("long").alias("n"),
        )
    )


def _with_base(df: DataFrame, base_df: Optional[DataFrame], out_col: str) -> DataFrame:
    """Join per-stream base counts onto ``df`` as ``out_col`` (0 for
    streams with no prior state).

    The broadcast hint is applied only while the counts relation is small
    enough to materialize on the driver/executors (cheap plan-time size
    check, no job): at millions of streams a forced broadcast would blow
    the broadcast size limit, so the hint is dropped and AQE picks the
    strategy (it still broadcast-joins when runtime stats allow)."""
    if base_df is None:
        return df.withColumn(out_col, F.lit(0).cast("long"))
    b = base_df.select(
        F.col("stream_id").alias("_b_sid"), F.col("n").alias("_b_n")
    )
    try:
        # stats from the ANALYZED plan, not optimizedPlan(): both are
        # size estimates feeding the same threshold, but optimizedPlan()
        # runs the full Catalyst optimizer on the driver PER CALL —
        # measured 25-40 ms warm / 500 ms cold vs 1-3 ms analyzed, and
        # this sits on every streaming fold's plan-construction path
        # (twice per micro-batch)
        size = int(b._jdf.queryExecution().analyzed().stats().sizeInBytes())
        # relations without real statistics (driver-built LocalRelations,
        # aggregates over them) report spark.sql.defaultSizeInBytes =
        # Long.MaxValue — that is "unknown", not "huge": keep the hint
        # there (the dict-built counts path is bounded by construction)
        # and drop it only when REAL stats exceed the threshold
        small = size <= 64 * 1024 * 1024 or size >= (1 << 62)
    except Exception:
        small = True
    joined = df.join(
        F.broadcast(b) if small else b,
        F.col("stream_id") == F.col("_b_sid"),
        "left",
    )
    return joined.withColumn(
        out_col, F.coalesce(F.col("_b_n"), F.lit(0)).cast("long")
    ).drop("_b_sid", "_b_n")


def _indexed_events(
    batch: DataFrame,
    base_df: Optional[DataFrame],
    *,
    stream_col: str = "stream_id",
    ts_col: str = "ts",
    value_col: str = "value",
    order_cols: tuple = (),
) -> DataFrame:
    """Normalize batch events and assign insertion indexes that continue
    each stream's existing count (``base_df``: stream_id, n).  Returns
    (stream_id, ts, value, *order_cols, _base, _idx) — the shared front
    half of ``merge_summary_increment`` / ``merge_sketch_increment``."""
    # window ordering references the post-select names (ts_col -> "ts")
    order = [F.col("ts").asc()] + [F.col(c).asc() for c in order_cols]
    w = Window.partitionBy("stream_id").orderBy(*order)
    ev = batch.select(
        F.col(stream_col).alias("stream_id"),
        F.col(ts_col).cast("long").alias("ts"),
        F.col(value_col).cast("double").alias("value"),
        *[F.col(c) for c in order_cols],
    )
    ev = _with_base(ev, base_df, "_base")
    return ev.withColumn(
        "_idx", F.row_number().over(w).cast("long") - 1 + F.col("_base")
    )


def _events_as_units(
    batch: DataFrame,
    base_df: Optional[DataFrame],
    *,
    stream_col: str = "stream_id",
    ts_col: str = "ts",
    value_col: str = "value",
    order_cols: tuple = (),
) -> DataFrame:
    """Turn batch events into singleton units with insertion indexes that
    continue each stream's existing count (``base_df``: stream_id, n)."""
    ev = _indexed_events(
        batch,
        base_df,
        stream_col=stream_col,
        ts_col=ts_col,
        value_col=value_col,
        order_cols=order_cols,
    )
    return ev.select(
        "stream_id",
        F.col("_idx").alias("count_start"),
        F.col("_idx").alias("count_end"),
        F.col("ts").alias("time_start"),
        F.col("ts").alias("time_end"),
        F.lit(1).cast("long").alias("count"),
        F.col("value").alias("sum"),
        F.col("value").alias("max"),
        F.col("value").alias("min"),
    )


def _new_counts_df(
    batch: DataFrame, base_df: Optional[DataFrame], stream_col: str
) -> DataFrame:
    """Per-stream post-batch totals ``(stream_id, n)`` = base + batch size,
    as a tiny aggregate + outer join (no driver collect)."""
    bc = batch.groupBy(F.col(stream_col).alias("stream_id")).agg(
        F.count(F.lit(1)).alias("_bc")
    )
    if base_df is None:
        return bc.select("stream_id", F.col("_bc").cast("long").alias("n"))
    b = base_df.select("stream_id", F.col("n").alias("_base_n"))
    return (
        bc.join(b, "stream_id", "full_outer")
        .select(
            "stream_id",
            (
                F.coalesce(F.col("_base_n"), F.lit(0))
                + F.coalesce(F.col("_bc"), F.lit(0))
            ).cast("long").alias("n"),
        )
    )


def merge_summary_increment(
    old_summary: Optional[DataFrame],
    batch: DataFrame,
    windowing,
    base_counts: CountsLike = None,
    *,
    stream_col: str = "stream_id",
    ts_col: str = "ts",
    value_col: str = "value",
    order_cols: tuple = (),
    buffer_size: int = 0,
    counts_cover_state: bool = False,
) -> DataFrame:
    """One micro-batch step: old canonical summary + new events -> new
    canonical summary (schema ``SUMMARY_COLS``).

    ``base_counts`` gives each stream's element count already summarized
    (the stream's N before this batch) — a ``(stream_id, n)`` DataFrame at
    scale, or a small mapping; defaults to counts derived from
    ``old_summary``.  All per-stream state flows through broadcast joins:
    plan size and driver memory stay O(1) in #streams.

    ``counts_cover_state=True`` promises that ``base_counts`` contains a
    row for EVERY stream present in ``old_summary`` (true whenever the
    counts were derived from the old state itself, as the streaming
    ingest path does) — the carried-counts repair join is then provably
    a no-op (the full_outer in ``_new_counts_df`` already keeps those
    streams, and ``_carry_counts``'s coalesce prefers the existing
    values) and is skipped: one fewer aggregate + join over the old
    summary per micro-batch plan.
    """
    derived_from_state = base_counts is None and old_summary is not None
    if derived_from_state:
        base_df = old_summary.groupBy("stream_id").agg(
            (F.max("count_end") + 1).cast("long").alias("n")
        )
    else:
        base_df = _counts_df(batch, base_counts)

    new_units = _events_as_units(
        batch,
        base_df,
        stream_col=stream_col,
        ts_col=ts_col,
        value_col=value_col,
        order_cols=order_cols,
    )
    units = new_units
    if old_summary is not None:
        units = old_summary.select(*_UNIT_COLS).unionByName(new_units)

    # per-stream new total N' (old N + batch size), broadcast-joined on
    nc = _new_counts_df(batch, base_df, stream_col)
    if old_summary is not None and not (
        counts_cover_state or derived_from_state
    ):
        # repair join only when base_counts may MISS streams held in the
        # old state (a caller-supplied partial mapping); counts derived
        # from the state itself cover every stream by construction
        nc = _carry_counts(
            nc,
            old_summary.groupBy("stream_id").agg(
                (F.max("count_end") + 1).cast("long").alias("n")
            ),
        )
    units = _with_base(units, nc, "_n")

    # bucket of the unit's newest element; the coarsening invariant
    # guarantees the whole [count_start, count_end] interval shares it.
    # windowing may be {stream_id: policy} — _bucket_units routes groups.
    units = _bucket_units(units, windowing, buffer_size, "count_end")

    return (
        units.groupBy("stream_id", "bucket")
        .agg(
            F.min("time_start").alias("time_start"),
            F.max("time_end").alias("time_end"),
            F.min("count_start").alias("count_start"),
            F.max("count_end").alias("count_end"),
            F.sum("count").alias("count"),
            F.sum("sum").alias("sum"),
            F.max("max").alias("max"),
            F.min("min").alias("min"),
        )
        .withColumn("window_id", F.col("count_start"))
        .select(*SUMMARY_COLS)
    )


def merge_sketch_increment(
    old_sketches: Optional[DataFrame],
    batch: DataFrame,
    windowing,
    ops,
    base_counts: CountsLike,
    *,
    stream_col: str = "stream_id",
    ts_col: str = "ts",
    value_col: str = "value",
    order_cols: tuple = (),
    buffer_size: int = 0,
) -> DataFrame:
    """One micro-batch step for the per-window sketch state.

    Same coarsening argument as ``merge_summary_increment``: every sketch
    is a commutative monoid (bloom word-OR, CMS keywise sum, HLL register
    max, KLL merge), so the canonical sketch state at N + B = re-bucket
    old window sketches at the new N, build sketches for the B new events,
    and merge per (stream, bucket) — O(streams * log N) state rows + O(B)
    events through hash aggregation, no history rescan.

    ``old_sketches`` rows are ``build_sketch_windows`` output (window_id =
    the window's count_start, count = its element count — together they
    give the count interval the re-bucketing needs).
    """
    from summarydb_spark.operators.sketch_windows import build_sketch_windows

    ops = {"cms" if o == "freq" else o for o in ops}

    # -- index + bucket the batch events at the new N -----------------------
    base_df = _counts_df(batch, base_counts)
    ev = (
        _indexed_events(
            batch,
            base_df,
            stream_col=stream_col,
            ts_col=ts_col,
            value_col=value_col,
            order_cols=order_cols,
        )
        .withColumnRenamed("_idx", "idx")
        .drop("_base", *order_cols)
    )

    nc = _new_counts_df(batch, base_df, stream_col)
    if old_sketches is not None:
        # window_id = count_start, count = elements -> last index + 1
        nc = _carry_counts(
            nc,
            old_sketches.groupBy("stream_id").agg(
                F.max(F.col("window_id") + F.col("count")).cast("long").alias("n")
            ),
        )

    def bucketed(df: DataFrame, idx_col: str) -> DataFrame:
        df = _with_base(df, nc, "_n")
        return _bucket_units(df, windowing, buffer_size, idx_col).drop("_n")

    new_sk = build_sketch_windows(bucketed(ev, "idx"), ops, keep_bucket=True)

    units = new_sk
    if old_sketches is not None:
        old = old_sketches.withColumn(
            "_count_end", F.col("window_id") + F.col("count") - 1
        )
        # the whole old window shares one new bucket (coarsening invariant)
        old = bucketed(old, "_count_end").drop("_count_end")
        units = old.select(*new_sk.columns).unionByName(new_sk)

    # -- monoid merge per (stream, new bucket) ------------------------------
    aggs = [
        F.min("time_start").alias("time_start"),
        F.max("time_end").alias("time_end"),
        F.min("window_id").alias("window_id"),
        F.sum("count").alias("count"),
    ]
    if "hll" in ops:
        aggs.append(F.hll_union_agg("hll").alias("hll"))
    if "kll" in ops:
        aggs.append(F.collect_list("kll").alias("_klls"))
    merged = units.groupBy("stream_id", "bucket").agg(*aggs)
    if "kll" in ops:
        from summarydb_spark.functions.sketch import kll_fold

        merged = merged.withColumn("kll", kll_fold(F.col("_klls"))).drop("_klls")
    if "bloom" in ops:
        bl = (
            units.select("stream_id", "bucket", F.explode("bloom").alias("w", "bits"))
            .groupBy("stream_id", "bucket", "w")
            .agg(F.bit_or("bits").alias("bits"))
            .groupBy("stream_id", "bucket")
            .agg(
                F.map_from_entries(F.collect_list(F.struct("w", "bits"))).alias(
                    "bloom"
                )
            )
        )
        merged = merged.join(bl, ["stream_id", "bucket"])
    if "cms" in ops:
        cm = (
            units.select("stream_id", "bucket", F.explode("cms").alias("k", "cnt"))
            .groupBy("stream_id", "bucket", "k")
            .agg(F.sum("cnt").alias("cnt"))
            .groupBy("stream_id", "bucket")
            .agg(F.map_from_entries(F.collect_list(F.struct("k", "cnt"))).alias("cms"))
        )
        merged = merged.join(cm, ["stream_id", "bucket"])
    return merged.drop("bucket")
