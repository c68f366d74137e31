"""SummaryDB engine: the user-facing API.

Mirrors the reference's DB/Stream surface (core/db.go:24-98,
core/stream.go:104-192) on Spark-native storage:

- ``events``   — raw appends, parquet, partitioned by stream  (the WAL
  analogue; replayable, so no separate write-ahead log is needed)
- ``summary``  — canonical decayed windows, parquet, rebuilt per flush
- ``landmarks``— exact user-bracketed windows, parquet, append-only
- ``streams.json`` — per-stream config (id, operators, windowing), the
  analogue of the capnp stream metadata (protos/summarydb.capnp:47-54)

Durability model: instead of WAL + heap/index persistence + recovery replay
(core/pipeline.go:266-335), every table is a replayable parquet dataset and
the summary state is a deterministic function of events — ``Open`` just
re-reads metadata; queries recompute from whatever was flushed.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field
from typing import List, Optional, Sequence, Tuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from summarydb_spark.operators.estimator import (
    AggResult,
    LandmarkWindowRow,
    QueryParams,
    SummaryWindowRow,
    query_op,
    select_landmark_windows,
    select_summary_windows,
)
from summarydb_spark.operators.sketch_windows import (
    SKETCH_COLS,
    SKETCH_OPS,
    query_distinct,
    query_frequency,
    query_membership,
    query_quantile,
    summarize_windows,
)
from summarydb_spark.operators.summary import (
    SUMMARY_COLS,
    SUMMARY_SCHEMA,
    bucketed_configs,
)
from summarydb_spark.session import local_frame
from summarydb_spark.windowing import windowing_from_params

EVENT_SCHEMA = T.StructType(
    [
        T.StructField("stream_id", T.LongType(), False),
        T.StructField("seq", T.LongType(), False),
        T.StructField("ts", T.LongType(), False),
        T.StructField("value", T.DoubleType(), False),
    ]
)

LANDMARK_SCHEMA = T.StructType(
    [
        T.StructField("stream_id", T.LongType(), False),
        T.StructField("window_id", T.LongType(), False),
        T.StructField("time_start", T.LongType(), False),
        T.StructField("time_end", T.LongType(), False),
        T.StructField("ts", T.LongType(), True),
        T.StructField("value", T.DoubleType(), True),
    ]
)

DEFAULT_OPS = ("count", "sum", "max", "min")


def generic_member_key(member) -> float:
    """Encode an arbitrary member (float | str | bytes) into the
    engine's float64 value domain, honoring the reference README's
    bloom-over-"arbitrary data" promise (/root/reference/README.md:27-28
    — declared there, never built).

    Numbers pass through unchanged, so numeric streams behave exactly as
    before.  Strings/bytes map to the top 52 bits of their md5 (13 hex
    chars) — exactly representable in a double, stable across engines
    (both Spark and DuckDB expose the identical md5, the same totem this
    repo's portable fingerprints already rely on).  Landmark exactness
    carries over for free: a stored encoded value compares equal to the
    identically-encoded probe.

    Collision (birthday) bound — the documented capacity contract: among
    m distinct str/bytes members per stream, the probability of ANY
    key collision is ~ m^2 / 2^53, i.e. the distortion this encoding
    adds to the bloom's false-positive accounting stays below the
    bloom's own ~1% FP budget for m up to ~9.5e6 (~2^23) members per
    stream, and the 50% birthday point is ~2^26.5.  52 bits is the
    widest exactly-representable integer a double carries, so the key
    cannot be widened inside the engine's float64 value domain; streams
    expecting >2^23 distinct generic members per stream should bloom at
    a coarser stream granularity (shard the stream) rather than rely on
    this encoding.  Property-tested: distinct members stay distinct at
    the 1e6-member scale (tests/test_engine_sketch.py)."""
    if isinstance(member, bool):
        raise TypeError("bool is not a valid stream member")
    if isinstance(member, (int, float)):
        return float(member)
    if isinstance(member, str):
        member = member.encode("utf-8")
    if isinstance(member, (bytes, bytearray)):
        import hashlib

        return float(int(hashlib.md5(bytes(member)).hexdigest()[:13], 16))
    raise TypeError(f"unsupported member type: {type(member).__name__}")


def generic_member_key_col(col, dtype):
    """Column-expression twin of :func:`generic_member_key` for the bulk
    ingest path: numeric columns cast to double unchanged; string/binary
    columns encode as the top 52 md5 bits (``conv(substr(md5, 1, 13))``)
    — Spark's md5 over a string's UTF-8 bytes is the same function as
    hashlib's, so a bulk-ingested member probes equal to an
    append_pairs-ingested one."""
    if isinstance(dtype, (T.StringType, T.BinaryType)):
        return F.conv(
            F.substring(F.md5(col.cast("binary")), 1, 13), 16, 10
        ).cast("double")
    return col.cast("double")

# Batched query paths push the queried stream set into the store scan as a
# partition filter.  Above this many distinct streams the in-list would
# bloat the plan for no benefit (a batch touching >10k streams is close to
# a full scan anyway) — fall back to the unpruned scan.
_PRUNE_MAX_STREAMS = 10_000


def _pid_alive(pid: int) -> bool:
    """True if ``pid`` is a live process (signal-0 probe; EPERM means
    alive but owned by someone else)."""
    try:
        os.kill(pid, 0)
        return True
    except ProcessLookupError:
        return False
    except PermissionError:
        return True


def prune_landmark_scan(lraw: DataFrame, t0: int, t1: int) -> Optional[DataFrame]:
    """Push the landmark index-selection predicates into the parquet scan.

    ``select_landmark_windows`` (operators/estimator.py:177) brackets the
    candidate set by the floor of t0 / ceiling of t1 over the stream's
    window STARTS, then drops ``time_end < t0``.  The bracket scalars are
    computed here as one tiny aggregate job (min/max survive parquet
    row-group pruning); the row fetch then carries
    ``time_start BETWEEN lo AND hi AND time_end >= t0`` plus the points-only
    filter ``ts BETWEEN t0 AND t1`` (query_op/sum_stats only ever read
    points inside the query range) — so the driver collects O(selected
    windows + in-range points), never the stream's full landmark history.

    Exactness: fetched = {start in [lo, hi], end >= t0} is precisely the
    selector's output over the full set — re-deriving lo/hi from the
    fetched subset cannot change membership because lo is the unique
    maximal start <= t0 (any other fetched start <= t0 would contradict
    maximality) and the ceiling window always satisfies end >= start >= t1.

    Returns None when the stream has no landmark windows.
    """
    agg = lraw.agg(
        F.max(F.when(F.col("time_start") <= t0, F.col("time_start"))).alias("max_le"),
        F.min(F.when(F.col("time_start") >= t1, F.col("time_start"))).alias("min_ge"),
        F.min("time_start").alias("min_all"),
        F.max("time_start").alias("max_all"),
    ).collect()[0]
    if agg["min_all"] is None:
        return None
    lo = agg["max_le"] if agg["max_le"] is not None else agg["min_all"]
    hi = agg["min_ge"] if agg["min_ge"] is not None else agg["max_all"]
    return lraw.where(
        F.col("time_start").between(int(lo), int(hi))
        & (F.col("time_end") >= int(t0))
        & (F.col("ts").isNull() | F.col("ts").between(t0, t1))
    )


def landmark_selection_lazy(lraw: DataFrame, t0: int, t1: int) -> DataFrame:
    """One-ACTION landmark selection: the same bracket semantics as
    :func:`prune_landmark_scan`, but the lo/hi scalars are computed
    INSIDE the plan with per-stream window aggregates instead of a
    separate driver-side aggregate job — ``Stream.query`` then issues a
    single collect for landmarks (one action total on the landmark
    store) instead of bracket-job + fetch-job.

    Trade-off, explicitly: the bracket is no longer a literal in the
    scan filter, so parquet row-group pruning only sees the
    stream-partition and null/ts predicates and the stream's landmark
    rows are scanned once to compute the bracket.  That is the right
    trade for the interactive single-query path (the driver round-trip
    is the latency floor; landmark stores are O(#brackets) per stream).
    The 2-job literal-pushdown variant remains for callers that prefer
    scan-volume over round-trips on huge landmark histories.
    """
    from pyspark.sql import Window

    w = Window.partitionBy("stream_id")
    lo = F.coalesce(
        F.max(F.when(F.col("time_start") <= t0, F.col("time_start"))).over(w),
        F.min("time_start").over(w),
    )
    hi = F.coalesce(
        F.min(F.when(F.col("time_start") >= t1, F.col("time_start"))).over(w),
        F.max("time_start").over(w),
    )
    return (
        lraw.withColumn("_lo", lo)
        .withColumn("_hi", hi)
        .where(
            F.col("time_start").between(F.col("_lo"), F.col("_hi"))
            & (F.col("time_end") >= int(t0))
            & (F.col("ts").isNull() | F.col("ts").between(t0, t1))
        )
        .drop("_lo", "_hi")
    )


@dataclass
class _StreamMeta:
    stream_id: int
    ops: List[str]
    window_kind: str
    window_params: dict
    buffer_size: int = 0
    n: int = 0
    last_ts: int = 0
    next_seq: int = 0
    dirty: bool = False


class Stream:
    """One logical time-series; see class docstring above for semantics."""

    def __init__(self, db: "SummaryDB", meta: _StreamMeta) -> None:
        self._db = db
        self.meta = meta
        self._landmark: Optional[dict] = None  # {"time_start": int, "points": [...]}

    # -- ingest ---------------------------------------------------------

    @property
    def stream_id(self) -> int:
        return self.meta.stream_id

    def windowing(self):
        return windowing_from_params(self.meta.window_kind, self.meta.window_params)

    def append_pairs(self, pairs: Sequence[Tuple[int, float]]) -> None:
        """Append (timestamp, value) pairs (core/stream.go:104-119).

        While a landmark is open, points go to the landmark window and do not
        feed decay.  Out-of-order timestamps are clamped to last+1
        (core/pipeline.go:80-84).

        Rows are buffered on the driver and written coalesced at flush time
        (or when the buffer exceeds the spill threshold): the reference's
        append-per-point call pattern would otherwise create one tiny parquet
        file per call.  Durability boundary = flush/close — a crash loses the
        unflushed buffer AND its counters together, leaving the on-disk state
        consistent at the last flush (the WAL-less analogue of the
        reference's buffered ingester, core/ingester.go).  With
        ``SummaryDB(durable_appends=True)`` every DECAYED-path batch is
        journaled with an fsync before this method returns (the reference's
        WAL-before-ack, core/pipeline.go:97-107, strengthened from its
        0-1 s async-fsync window to per-batch), and reopen replays the
        journal — zero acknowledged rows lost on crash.  Points inside an
        OPEN landmark bracket are the exception on both engines: they
        buffer/stage until ``end_landmark`` commits the bracket (the
        reference holds them in the in-memory landmark window,
        core/landmark_window.go), so a crash mid-bracket loses the open
        bracket — never any committed one.

        Values may be floats (the reference's domain) or str/bytes —
        generic data is encoded into the float64 domain via
        :func:`generic_member_key` (stable 52-bit md5 key), making
        bloom/frequency membership and landmark-exact hits work for
        arbitrary payloads.  Numeric aggregates (sum/max/min) over
        encoded keys are of course meaningless — declare such streams
        with sketch ops only.
        """
        self._db._assert_writable()
        if self._landmark is not None:
            self._landmark["points"].extend(
                (int(t), generic_member_key(v)) for t, v in pairs
            )
            if len(self._landmark["points"]) >= self._db.PENDING_SPILL_ROWS:
                self._spill_landmark_points()
            return
        m = self.meta
        rows = []
        for t, v in pairs:
            t = int(t)
            if rows or m.n > 0:
                last = rows[-1][2] if rows else m.last_ts
                # strictly-increasing clamp (t <= last bumps): the engine
                # contract everywhere (operators/summary.clamp_monotonic's
                # closed form, the streaming path, this driver path).  The
                # reference passes EQUAL stamps through (strict < at
                # core/pipeline.go:81-84); we strengthen to strict
                # monotonicity so every ingest path yields identical
                # windows for identical input.
                if t <= last:
                    t = last + 1
            rows.append((m.stream_id, m.next_seq, t, generic_member_key(v)))
            m.next_seq += 1
        if not rows:
            return
        self._db._pending.extend(rows)
        m.n += len(rows)
        m.last_ts = rows[-1][2]
        m.dirty = True
        if self._db.durable_appends:
            self._db._wal_append(rows)
        if len(self._db._pending) >= self._db.PENDING_SPILL_ROWS:
            self._db._flush_pending()

    def _landmark_stage_path(self) -> str:
        return os.path.join(
            self._db._landmark_stage_root, f"stream={self.meta.stream_id}"
        )

    def _spill_landmark_points(self) -> None:
        """Move buffered landmark points to the parquet staging area."""
        pts = self._landmark["points"]
        if not pts:
            return
        df = local_frame(self._db.spark, pts, "ts long, value double")
        df.coalesce(1).write.mode("append").parquet(self._landmark_stage_path())
        self._landmark["staged"] = True
        self._landmark["points"] = []

    def append(self, df: DataFrame, ts_col: str = "ts", value_col: str = "value") -> None:
        """Append a DataFrame of events (bulk ingest path).

        Rows must be intra-batch ordered by ``ts_col``; clamping across
        batches continues from the stream's last timestamp.

        While a landmark is open the batch is staged straight to parquet —
        landmark brackets hold raw points of arbitrary span (the reference
        keeps them in core/landmark_window.go), so they must never
        materialize on the driver.

        A string/binary ``value_col`` is encoded into the float64 domain
        in-plan by :func:`generic_member_key_col` — the bulk twin of the
        driver-side encoding ``append_pairs`` applies, so generic members
        ingest at scale and probe identically either way.
        """
        self._db._assert_writable()
        vtype = df.schema[value_col].dataType
        vexpr = generic_member_key_col(F.col(value_col), vtype)
        if self._landmark is not None:
            df.select(
                F.col(ts_col).cast("long").alias("ts"),
                vexpr.alias("value"),
            ).write.mode("append").parquet(self._landmark_stage_path())
            self._landmark["staged"] = True
            return
        m = self.meta
        from pyspark.sql import Window

        from summarydb_spark.operators.summary import clamp_monotonic

        base = df.select(
            F.lit(m.stream_id).cast("long").alias("stream_id"),
            F.col(ts_col).cast("long").alias("ts"),
            vexpr.alias("value"),
        )
        w = Window.partitionBy("stream_id").orderBy("ts")
        base = base.withColumn(
            "seq", F.lit(m.next_seq) + F.row_number().over(w).cast("long") - 1
        )
        # same strictly-increasing clamp as every other ingest path,
        # continued from the stream's committed last timestamp
        base = clamp_monotonic(
            base,
            order_col="seq",
            last_ts={m.stream_id: m.last_ts} if m.n > 0 else None,
        )
        # write FIRST, then derive the counters from the written segment:
        # one evaluation of the input plan (agg + write was two, and a
        # non-deterministic source could commit counters disagreeing with
        # the rows actually written), and an empty input stays total
        # (max(ts) of an empty segment is None -> counters untouched)
        seg_path = self._db._write_events(
            base.select("stream_id", "seq", "ts", "value")
        )
        # explicit schema: an empty input writes a segment with no parquet
        # footers, which schema inference cannot read
        cnt, max_ts = (
            self._db.spark.read.schema(EVENT_SCHEMA).parquet(seg_path)
            .agg(F.count(F.lit(1)), F.max("ts"))
            .first()
        )
        if cnt:
            m.next_seq += cnt
            m.n += cnt
            m.last_ts = max(m.last_ts, max_ts)
            m.dirty = True
        self._db._commit()

    # -- landmarks ------------------------------------------------------

    def start_landmark(self, timestamp: int) -> None:
        if self._landmark is not None:
            raise RuntimeError("already appending as landmarks")
        # a crash after a previous end_landmark's commit but before its
        # stage cleanup must not leak old points into this window
        import shutil

        shutil.rmtree(self._landmark_stage_path(), ignore_errors=True)
        self._landmark = {
            "time_start": int(timestamp),
            "points": [],
            "staged": False,
        }

    def end_landmark(self, timestamp: int) -> None:
        if self._landmark is None:
            raise RuntimeError("no running landmark")
        lw = self._landmark
        self._landmark = None
        t0 = lw["time_start"]
        t1 = int(timestamp)
        spark = self._db.spark
        if lw["staged"]:
            # bracket points staged in parquet (arbitrary span): stamp the
            # window columns on and append — one distributed write, the
            # points never touch the driver
            stage = spark.read.parquet(
                os.path.join(self._db._landmark_stage_root, f"stream={self.meta.stream_id}")
            )
            if lw["points"]:
                stage = stage.unionByName(
                    local_frame(spark, lw["points"], "ts long, value double")
                )
            out = stage.select(
                F.lit(self.meta.stream_id).cast("long").alias("stream_id"),
                F.lit(t0).cast("long").alias("window_id"),
                F.lit(t0).cast("long").alias("time_start"),
                F.lit(t1).cast("long").alias("time_end"),
                F.col("ts").cast("long"),
                F.col("value").cast("double"),
            )
            # ts-NULL marker row records the window bracket itself, so the
            # window survives even if the staged point set is empty
            marker = local_frame(
                spark, [(self.meta.stream_id, t0, t0, t1, None, None)], LANDMARK_SCHEMA
            )
            self._db._write_landmarks(marker.unionByName(out))
            self._db._commit()
            import shutil

            shutil.rmtree(self._landmark_stage_path(), ignore_errors=True)
        else:
            # ts-NULL marker row always present (like the staged branch):
            # the window bracket must survive scans that filter points by
            # ts range (prune_landmark_scan) even when no point is in range
            rows = [
                (self.meta.stream_id, t0, t0, t1, int(ts), float(v))
                for ts, v in lw["points"]
            ] + [(self.meta.stream_id, t0, t0, t1, None, None)]
            df = local_frame(spark, rows, LANDMARK_SCHEMA)
            self._db._write_landmarks(df)
            self._db._commit()

    # -- flush / query --------------------------------------------------

    def flush(self) -> None:
        self._db.flush(stream_ids=[self.meta.stream_id])

    # -- sketch queries (the reference's declared-but-unbuilt surface:
    # protos/summarydb.capnp:6-13, README.md:27-28) ----------------------

    def _sketch_df(self) -> DataFrame:
        if not os.path.isdir(self._db._sketches_path):
            raise ValueError(
                f"stream {self.meta.stream_id} has no sketch state; declare "
                f"sketch ops {SKETCH_OPS} at new_stream()"
            )
        # partition-prune to this stream's directory (the store is
        # partitionBy(sid)) — every single-stream sketch query then scans
        # O(log n) rows regardless of how many streams the DB holds
        return self._db._pruned_store_scan(
            self._db._sketches_path, [self.meta.stream_id]
        )

    def _landmark_points(self, t0: int, t1: int) -> list:
        lm = self._db.landmarks_df()
        if lm is None:
            return []
        rows = lm.where(
            (F.col("stream_id") == self.meta.stream_id)
            & F.col("ts").isNotNull()
            & F.col("ts").between(t0, t1)
        ).collect()
        return [(r["ts"], r["value"]) for r in rows]

    def query_membership(self, member, t0: int, t1: int) -> AggResult:
        """Bloom membership of ``member`` among values in [t0, t1];
        error = false-positive probability (0 on landmark-exact hits).

        ``member`` may be a float (the reference's domain) or str/bytes
        — generic members are encoded by :func:`generic_member_key`,
        matching how :meth:`append_pairs` encoded them at ingest."""
        if self.meta.dirty:
            self.flush()
        return query_membership(
            self._sketch_df(),
            self.meta.stream_id,
            generic_member_key(member),
            t0,
            t1,
            landmark_points=self._landmark_points(t0, t1),
        )

    def query_frequency(self, member, t0: int, t1: int) -> AggResult:
        """Count-min frequency estimate of ``member`` among values in
        [t0, t1]; error = the eps*N overcount bound (estimate >= truth).
        ``member`` accepts float | str | bytes like query_membership."""
        if self.meta.dirty:
            self.flush()
        return query_frequency(
            self._sketch_df(),
            self.meta.stream_id,
            generic_member_key(member),
            t0,
            t1,
        )

    def query_distinct(self, t0: int, t1: int) -> AggResult:
        """Approx distinct values over the covering windows (HLL)."""
        if self.meta.dirty:
            self.flush()
        return query_distinct(self._sketch_df(), self.meta.stream_id, t0, t1)

    def query_quantile(self, q: float, t0: int, t1: int) -> AggResult:
        """Approx value quantile over the covering windows (KLL)."""
        if self.meta.dirty:
            self.flush()
        return query_quantile(self._sketch_df(), self.meta.stream_id, q, t0, t1)

    def query(
        self, op: str, t0: int, t1: int, params: Optional[QueryParams] = None
    ) -> AggResult:
        """Single-query path: flush, select overlapping windows, evaluate
        the estimator driver-side (the window set is O(log N)).

        ONE Spark action total: the summary-window fetch and the
        landmark fetch (whose bracket scalars ride in-plan,
        :func:`landmark_selection_lazy`) are unioned into a single
        collect — the interactive query's latency is one driver round
        trip, matching the reference's single blocking call
        (core/stream.go:156-192).  The reference evaluates both stores
        in one pass too; the naive Spark translation was three
        sequential jobs.
        """
        if self.meta.dirty:
            self.flush()
        # kind 'S': summary rows; kind 'L': landmark rows.  Columns are
        # the union of both schemas, NULL-padded, so one collect serves
        # both selectors below.
        fetch = None
        if os.path.isdir(self._db._summary_path):
            fetch = (
                self._db._pruned_store_scan(
                    self._db._summary_path, [self.meta.stream_id], SUMMARY_SCHEMA
                )
                .where(
                    (F.col("stream_id") == self.meta.stream_id)
                    & (F.col("time_end") >= t0)
                    & (F.col("time_start") <= t1)
                )
                .select(
                    F.lit("S").alias("kind"),
                    "time_start",
                    "time_end",
                    F.col("count").cast("double").alias("count"),
                    "sum",
                    "max",
                    "min",
                    F.lit(None).cast("long").alias("window_id"),
                    F.lit(None).cast("long").alias("ts"),
                    F.lit(None).cast("double").alias("value"),
                )
            )
        lm = self._db.landmarks_df()
        if lm is not None:
            lraw = lm.where(F.col("stream_id") == self.meta.stream_id)
            lsel = landmark_selection_lazy(lraw, t0, t1).select(
                F.lit("L").alias("kind"),
                "time_start",
                "time_end",
                F.lit(None).cast("double").alias("count"),
                F.lit(None).cast("double").alias("sum"),
                F.lit(None).cast("double").alias("max"),
                F.lit(None).cast("double").alias("min"),
                "window_id",
                "ts",
                "value",
            )
            fetch = lsel if fetch is None else fetch.unionByName(lsel)
        all_rows = fetch.collect() if fetch is not None else []

        swins: List[SummaryWindowRow] = []
        if any(r["kind"] == "S" for r in all_rows):
            swins = select_summary_windows(
                [
                    SummaryWindowRow(
                        time_start=r["time_start"],
                        time_end=r["time_end"],
                        count=float(r["count"]),
                        sum=r["sum"],
                        max=r["max"],
                        min=r["min"],
                    )
                    for r in all_rows
                    if r["kind"] == "S"
                ],
                t0,
                t1,
            )
        lwins: List[LandmarkWindowRow] = []
        if lm is not None:
            lrows = [r for r in all_rows if r["kind"] == "L"]
            by_id: dict = {}
            for r in lrows:
                w = by_id.setdefault(
                    r["window_id"], LandmarkWindowRow(r["time_start"], r["time_end"], [])
                )
                if r["ts"] is not None:
                    w.points.append((r["ts"], r["value"]))
            # re-running the selector on the pushed-down set is a no-op by
            # construction (see prune_landmark_scan) — kept as the parity
            # anchor to core/stream.go:156-192
            lwins = select_landmark_windows(list(by_id.values()), t0, t1)
        return query_op(op, swins, lwins, t0, t1, params)

    def query_many(
        self,
        op: str,
        ranges: Sequence[Tuple[int, int]],
        params: Optional[QueryParams] = None,
    ) -> DataFrame:
        """Batched query path: evaluate ``op`` over many [t0, t1] ranges in
        ONE Spark job (operators.query_df — the whole estimator as column
        math).  Returns a DataFrame (qid, t0, t1, value, error, ...) with
        qid = the range's position in ``ranges``.

        This is the scale path the single-query API can't amortize: Q
        queries cost one broadcast-join job instead of Q driver round
        trips (SURVEY §7 "What's hard" #4 — keep query compilation lazy
        to batch many queries per job).

        Thin view over the cross-stream ``SummaryDB.query_many`` (same
        plan with a one-element stream set, so the store scan prunes to
        this stream's partition).
        """
        return self._db.query_many(
            op,
            [(self.meta.stream_id, int(t0), int(t1)) for t0, t1 in ranges],
            params,
        ).drop("stream_id")

    def query_many_sketch(
        self,
        op: str,
        ranges: Sequence[Tuple[int, int]],
        arg=None,
    ) -> DataFrame:
        """Batched sketch range queries — the ``query_many`` analogue for
        the sketch surface (membership | frequency | distinct | quantile).

        ``arg`` is the op's parameter (member value for membership /
        frequency — float | str | bytes, generic members encoded via
        :func:`generic_member_key`; quantile fraction for quantile): one
        scalar for all ranges or a sequence aligned with ``ranges``.  Q
        queries run as ONE broadcast-overlap-join job over the sketch
        store (operators.sketch_windows.sketch_range_frame) instead of 2
        driver round-trips + a 1-row probe job each.
        """
        from summarydb_spark.operators.sketch_windows import sketch_range_frame

        if self.meta.dirty:
            self.flush()
        spark = self._db.spark
        if op in ("membership", "frequency"):
            args = (
                list(arg) if isinstance(arg, (list, tuple)) else [arg] * len(ranges)
            )
            if len(args) != len(ranges):
                raise ValueError("arg sequence must align with ranges")
            ranges_df = local_frame(
                spark,
                [
                    (
                        self.meta.stream_id,
                        i,
                        int(t0),
                        int(t1),
                        generic_member_key(a),
                    )
                    for i, ((t0, t1), a) in enumerate(zip(ranges, args))
                ],
                "stream_id long, qid long, t0 long, t1 long, member double",
            )
        else:
            ranges_df = local_frame(
                spark,
                [
                    (self.meta.stream_id, i, int(t0), int(t1))
                    for i, (t0, t1) in enumerate(ranges)
                ],
                "stream_id long, qid long, t0 long, t1 long",
            )
        lpts = None
        lm = self._db.landmarks_df() if op == "membership" else None
        if lm is not None:
            lpts = lm.where(
                (F.col("stream_id") == self.meta.stream_id)
                & F.col("ts").isNotNull()
            ).select("stream_id", "ts", "value")
        if op == "quantile":
            # the KLL quantile rank is a plan-time literal: batch mixed
            # quantiles as a union of per-distinct-q frames (one lazy job)
            qs = list(arg) if isinstance(arg, (list, tuple)) else [arg] * len(ranges)
            if len(qs) != len(ranges):
                raise ValueError("arg sequence must align with ranges")
            out = None
            for qv in sorted(set(qs)):
                sub = ranges_df.where(
                    F.col("qid").isin([i for i, x in enumerate(qs) if x == qv])
                )
                frame = sketch_range_frame(self._sketch_df(), sub, op, q=float(qv))
                out = frame if out is None else out.unionByName(frame)
        else:
            out = sketch_range_frame(
                self._sketch_df(), ranges_df, op, landmark_points=lpts
            )
        return out.drop("stream_id").orderBy("qid")


class SummaryDB:
    def query_many(
        self,
        op: str,
        triples: Sequence[Tuple[int, int, int]],
        params: Optional[QueryParams] = None,
    ) -> DataFrame:
        """DB-level batched range queries ACROSS streams: evaluate ``op``
        for every (stream_id, t0, t1) triple in one Spark job.

        The per-stream ``Stream.query_many`` shape generalizes unchanged —
        the overlap join and the estimator column math are already keyed on
        (stream_id, qid), so a million queries spanning a million streams
        is still one broadcast join + one hash aggregation (the reference
        can only answer stream-by-stream, core/stream.go:156-192).
        Returns (stream_id, qid, t0, t1, value, error, ...bounds).
        """
        from summarydb_spark.operators.query_df import (
            approx_range_frame,
            minmax_range_frame,
        )

        self.flush(stream_ids={s for s, _t0, _t1 in triples})
        spark = self.spark
        sids = sorted({int(s) for s, _t0, _t1 in triples})
        ranges_df = local_frame(
            spark,
            [
                (int(s), i, int(t0), int(t1))
                for i, (s, t0, t1) in enumerate(triples)
            ],
            "stream_id long, qid long, t0 long, t1 long",
        )
        summary = (
            self._pruned_store_scan(self._summary_path, sids, SUMMARY_SCHEMA)
            if os.path.isdir(self._summary_path)
            else local_frame(
                spark, [], "stream_id long, time_start long, time_end long, "
                "count double, sum double, max double, min double"
            )
        )
        lwin = lpts = None
        lraw = self.landmarks_df()
        if lraw is not None:
            if len(sids) <= _PRUNE_MAX_STREAMS:
                # push the queried stream set into the landmark scan
                # (min/max row-group pruning; VERDICT r3 item 3's
                # batched-path analogue)
                lraw = lraw.where(F.col("stream_id").isin(sids))
            lwin = lraw.select(
                "stream_id", "window_id", "time_start", "time_end"
            ).distinct()
            lpts = lraw.where(F.col("ts").isNotNull()).select(
                "stream_id", "window_id", "ts", "value"
            )
        if op in ("count", "sum"):
            return approx_range_frame(
                summary, ranges_df, op, params,
                landmark_windows=lwin, landmark_points=lpts,
            ).orderBy("qid")
        if op in ("max", "min"):
            return minmax_range_frame(
                summary, ranges_df, op,
                landmark_windows=lwin, landmark_points=lpts,
            ).orderBy("qid")
        raise ValueError(f"unknown operator: {op}")

    def query_many_sketch(
        self,
        requests: Sequence[Tuple],
    ) -> DataFrame:
        """DB-level batched SKETCH range queries across streams and ops.

        ``requests``: a sequence of ``(stream_id, op, t0, t1)`` or
        ``(stream_id, op, t0, t1, arg)`` tuples, where ``op`` is one of
        ``membership | frequency | distinct | quantile`` and ``arg`` is the
        op's parameter (probed member for membership/frequency, quantile
        fraction for quantile; ignored for distinct).

        Returns (stream_id, qid, op, t0, t1, value, error) with qid = the
        request's position in ``requests``; semantics per row match the
        single-query ``Stream.query_*`` methods exactly.

        Scale shape: requests are grouped by (op[, quantile literal]) —
        a handful of groups, each one broadcast-overlap-join +
        monoid-merge aggregation over the shared sketch store
        (operators.sketch_windows.sketch_range_frame), unioned into ONE
        lazy plan.  N requests over M streams cost O(#distinct ops) joins
        against one store scan, not 2N driver round-trips — the
        cross-stream surface the reference declares but never builds
        (protos/summarydb.capnp:6-13; per-stream-only querying at
        core/stream.go:156-192).
        """
        from summarydb_spark.operators.sketch_windows import (
            batched_sketch_requests,
        )

        self.flush(stream_ids={req[0] for req in requests})
        if not os.path.isdir(self._sketches_path):
            raise ValueError(
                f"no sketch state at {self._sketches_path}; declare sketch "
                f"ops at new_stream()"
            )
        sids = sorted({int(req[0]) for req in requests})
        lpts = None
        if any(req[1] == "membership" for req in requests):
            lm = self.landmarks_df()
            if lm is not None:
                if len(sids) <= _PRUNE_MAX_STREAMS:
                    lm = lm.where(F.col("stream_id").isin(sids))
                lpts = lm.where(F.col("ts").isNotNull()).select(
                    "stream_id", "ts", "value"
                )
        return batched_sketch_requests(
            self.spark,
            self._pruned_store_scan(self._sketches_path, sids),
            requests,
            landmark_points=lpts,
        )

    def register_sql(self) -> None:
        """Register the SQL approx-query surface over this DB's persisted
        stores: table functions ``dcount/dsum(sid, t0, t1, conf)`` and
        ``dmax/dmin(sid, t0, t1)`` plus scalar ``sdb_z(conf)``, usable as
        ``spark.sql("SELECT * FROM dsum(0, 10, 99, 0.95)")`` (SURVEY §4.1
        item 3 — the reference only has the programmatic path,
        core/stream.go:156-192).  Functions are SQL-defined (Spark 4 SQL
        UDFs), so every call inlines into Catalyst — no Python in the plan.
        """
        from summarydb_spark.plans.sql_surface import (
            register_approx_functions,
        )

        self.flush()
        spark = self.spark
        if os.path.isdir(self._summary_path):
            # project the canonical columns only: the store's physical
            # partition column (sid) must not leak into the view, where it
            # would shadow same-named SQL identifiers
            spark.read.schema(SUMMARY_SCHEMA).parquet(self._summary_path).select(
                "stream_id", "time_start", "time_end",
                "count", "sum", "max", "min",
            ).createOrReplaceTempView("sdb_summary")
        else:
            local_frame(
                spark,
                [],
                "stream_id long, time_start long, time_end long, "
                "count double, sum double, max double, min double",
            ).createOrReplaceTempView("sdb_summary")
        lraw = self.landmarks_df()
        if lraw is None:
            # no landmark state anywhere in the DB: register the
            # landmark-free specialized bodies (same numerics, about half
            # the per-call stage waves — see _estimator_body_nolmk)
            register_approx_functions(
                spark,
                "sdb_summary",
                count_col="count",
                sum_col="sum",
                max_col="max",
                min_col="min",
            )
            return
        # materialize the deduped window brackets as a derived parquet:
        # Catalyst cannot decorrelate the function's parameter filter
        # over a Deduplicate/Aggregate view, but a plain file relation
        # is fine — and the bracket set is tiny (O(#landmark windows))
        from pyspark.sql.window import Window as W

        from summarydb_spark.sources.tables import _atomic_store_write

        lw_path = os.path.join(self.path, "_sql_lmk_windows")
        per_stream = W.partitionBy("stream_id").orderBy("time_start")
        brackets = lraw.groupBy(
            "stream_id", "window_id", "time_start", "time_end"
        ).agg(F.count(F.lit(1)).alias("_n")).drop("_n").select(
            "*",
            # precomputed floor/ceiling neighbors: lets the SQL
            # functions select landmark candidates with a row-wise
            # filter (the only decorrelatable shape under LATERAL)
            F.lead("time_start").over(per_stream).alias("next_start"),
            F.lag("time_start").over(per_stream).alias("prev_start"),
        )
        _atomic_store_write(brackets, lw_path)
        spark.read.parquet(lw_path).createOrReplaceTempView(
            "sdb_lmk_windows"
        )
        lraw.where(F.col("ts").isNotNull()).select(
            "stream_id", "window_id", "ts", "value"
        ).createOrReplaceTempView("sdb_lmk_points")
        register_approx_functions(
            spark,
            "sdb_summary",
            count_col="count",
            sum_col="sum",
            max_col="max",
            min_col="min",
            landmark_windows_view="sdb_lmk_windows",
            landmark_points_view="sdb_lmk_points",
        )

    # appended pairs buffer on the driver up to this many rows before
    # spilling to parquet; bounds driver memory under append-heavy loads
    # while keeping flush-time file count O(streams), not O(append calls)
    PENDING_SPILL_ROWS = 100_000

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        durable_appends: bool = False,
        keep_versions: int = 0,
        exclusive: bool = False,
        _at_commit: Optional[int] = None,
    ) -> None:
        self.spark = spark
        self.path = path
        self.durable_appends = durable_appends
        # time travel: keep_versions > 0 archives each superseded registry
        # snapshot under history/ (bounded), and the store versions /
        # event segments those snapshots reference survive the orphan
        # sweep — so SummaryDB.open(..., at_commit=N) can serve the DB
        # exactly as committed then (Delta/Iceberg-style snapshot reads;
        # the reference has no equivalent, its Badger store keeps only
        # the live version).  _at_commit handles are READ-ONLY.
        self.keep_versions = keep_versions
        self._history_dir = os.path.join(path, "history")
        self._read_only = _at_commit is not None
        self._commit_seq = 0
        os.makedirs(path, exist_ok=True)
        self._streams: dict[int, Stream] = {}
        self._pending: list = []
        self._registry_path = os.path.join(path, "streams.json")
        self._events_path = os.path.join(path, "events")
        self._landmarks_path = os.path.join(path, "landmarks")
        self._landmark_stage_root = os.path.join(path, "landmark_stage")
        # committed state: events/landmark segment lists + summary/sketch
        # store version pointers.  ALL of it commits in the single atomic
        # os.replace of streams.json (_save_registry) — uncommitted segment
        # or version directories are invisible to readers and swept here.
        self._segments: dict = {"events": [], "landmarks": []}
        self._stores: dict = {"summary": None, "sketches": None}
        registry_file = self._registry_path
        if _at_commit is not None:
            registry_file = os.path.join(
                self._history_dir, f"streams-{_at_commit:012d}.json"
            )
            if not os.path.exists(registry_file):
                # the CURRENT registry is also addressable by its seq
                if os.path.exists(self._registry_path):
                    with open(self._registry_path) as f:
                        head = json.load(f)
                    if head.get("commit_seq", 0) == _at_commit:
                        registry_file = self._registry_path
                if registry_file != self._registry_path:
                    raise ValueError(
                        f"no committed snapshot {_at_commit} under {path}; "
                        f"available: {self.list_commits(path)}"
                    )
        if os.path.exists(registry_file):
            with open(registry_file) as f:
                data = json.load(f)
            self._commit_seq = data.get("commit_seq", 0)
            for sid, m in data["streams"].items():
                meta = _StreamMeta(**m)
                self._streams[int(sid)] = Stream(self, meta)
            if "segments" not in data and (
                os.path.isdir(self._events_path)
                and any(os.scandir(self._events_path))
            ):
                # registry predates the manifest-committed layout but event
                # data exists: opening would silently serve an empty stream
                # set and the next flush would replace the committed summary
                # — refuse instead of destroying data
                raise ValueError(
                    f"{path} uses a pre-manifest store layout (streams.json "
                    "has no 'segments'); rebuild the DB from its source "
                    "events — in-place migration is not supported"
                )
            self._segments = data.get("segments", self._segments)
            self._stores = data.get("stores", self._stores)
        self._wal_path = os.path.join(path, "append.wal")
        self._wal_file = None
        # single-writer advisory lock (the reference's Badger directory
        # lock, acquired at storage open).  OPT-IN: multi-handle
        # single-process workflows (tests, notebooks, the time-travel
        # examples) legitimately hold overlapping writable handles, and
        # the atomic registry swap keeps the last writer consistent —
        # the lock is for deployments where a second writer is always a
        # deployment bug.  Read-only snapshots never take it.
        self._lock_path = os.path.join(path, ".writer.lock")
        self._owns_lock = False
        self._lock_fd = None
        self._defunct = False
        if exclusive and not self._read_only:
            self._acquire_writer_lock()
        if not self._read_only:
            # a snapshot handle must not mutate the live DB: no orphan
            # sweep (it would delete the HEAD's newer versions), no WAL
            # replay (committed state only — that is what a snapshot IS)
            self._sweep_orphans()
            self._replay_wal()

    def _sweep_orphans(self) -> None:
        """Delete directories a crashed writer left behind: segment dirs
        absent from the committed lists, store versions the pointers don't
        reference, and landmark staging (no landmark can be open in a fresh
        handle).  Single-writer by contract, like the reference DB."""
        import shutil

        hist = self._history_registries()
        for root, kind in ((self._events_path, "events"), (self._landmarks_path, "landmarks")):
            if os.path.isdir(root):
                live = {f"seg={s}" for s in self._segments[kind]}
                for h in hist:  # snapshot-referenced segments stay readable
                    live |= {f"seg={s}" for s in h.get("segments", {}).get(kind, [])}
                for d in os.listdir(root):
                    if d.startswith("seg=") and d not in live:
                        shutil.rmtree(os.path.join(root, d), ignore_errors=True)
        protected = self._protected_store_versions()
        for prefix in ("summary-", "sketches-"):
            for d in os.listdir(self.path):
                if d.startswith(prefix) and d not in protected:
                    shutil.rmtree(os.path.join(self.path, d), ignore_errors=True)
        shutil.rmtree(self._landmark_stage_root, ignore_errors=True)

    def _history_registries(self) -> list:
        """Archived registry snapshots (time travel), oldest first."""
        import glob as _glob

        out = []
        for p in sorted(
            _glob.glob(os.path.join(self._history_dir, "streams-*.json"))
        ):
            try:
                with open(p) as f:
                    out.append(json.load(f))
            except (OSError, ValueError):
                continue  # torn archive: ignore, never block opening
        return out

    def _protected_store_versions(self) -> set:
        """Store version dirs the live pointer OR any retained snapshot
        references — everything else is sweepable garbage."""
        protected = {v for v in self._stores.values() if v}
        for h in self._history_registries():
            protected |= {v for v in h.get("stores", {}).values() if v}
        return protected

    @staticmethod
    def list_commits(path: str) -> list:
        """Commit seqs addressable by ``open(..., at_commit=N)``: the
        retained snapshots plus the current head."""
        import glob as _glob

        out = []
        for p in sorted(_glob.glob(os.path.join(path, "history", "streams-*.json"))):
            try:
                out.append(int(os.path.basename(p)[len("streams-"):-len(".json")]))
            except ValueError:
                continue
        head = os.path.join(path, "streams.json")
        if os.path.exists(head):
            try:
                with open(head) as f:
                    out.append(json.load(f).get("commit_seq", 0))
            except (OSError, ValueError):
                pass
        # a crash between archiving the superseded registry and replacing
        # the head can leave the same commit_seq both as head and in
        # history — dedupe so callers never see a phantom extra commit
        return sorted(set(out))

    @property
    def _summary_path(self) -> str:
        v = self._stores.get("summary")
        return os.path.join(self.path, v) if v else os.path.join(self.path, "summary")

    @property
    def _sketches_path(self) -> str:
        v = self._stores.get("sketches")
        return os.path.join(self.path, v) if v else os.path.join(self.path, "sketches")

    def _pruned_store_scan(
        self, path: str, sids: Sequence[int], schema: Optional[T.StructType] = None
    ) -> DataFrame:
        """Scan a versioned store pruned to the queried stream set.

        The stores are written ``partitionBy(sid)`` (one directory per
        stream, ``_write_store_version``), so an ``isin`` on the partition
        column drops every other stream's files at plan time
        (PartitionFilters — stronger than row-group stats, which still
        list and open every file's footer).  At 1M streams a 3-stream
        batch reads 3 directories, not the whole store.  Falls back to
        the full scan for huge stream sets (``_PRUNE_MAX_STREAMS``),
        where the in-list would bloat the plan for no pruning benefit.
        ``schema`` (the summary store's fixed ``SUMMARY_SCHEMA``) skips
        the schema-inference job; the sketch store's columns vary per
        flush, so it is read without one."""
        reader = self.spark.read if schema is None else self.spark.read.schema(schema)
        df = reader.parquet(path)
        if 0 < len(sids) <= _PRUNE_MAX_STREAMS and "sid" in df.columns:
            df = df.where(F.col("sid").isin([int(s) for s in sids]))
        return df

    # -- registry -------------------------------------------------------

    def _commit(self) -> None:
        """Persist registry state WITHOUT stranding buffered appends.

        Every public commit point must go through here: meta counters
        (next_seq/n/last_ts) already reflect rows that may still sit in
        the driver _pending buffer, so writing the registry alone would
        commit counters whose rows exist in no event segment — a crash
        then makes WAL replay skip them (seq < committed next_seq) and
        the acknowledged rows are lost forever.  Flushing first keeps the
        rows+counters single-commit invariant _flush_pending documents."""
        if self._pending:
            self._flush_pending()  # writes rows, registry, truncates WAL
        else:
            self._save_registry()

    def _acquire_writer_lock(self) -> None:
        """Take the single-writer lock: ``flock(LOCK_EX | LOCK_NB)`` on a
        lockfile fd held open for the handle's lifetime.

        The kernel owns the lock state, which removes the whole
        stale-reclaim problem class a pid-file scheme has: a crashed
        writer's lock evaporates with its fds (nothing to reclaim), a
        LIVE writer — another process or a second exclusive handle in
        this one (flock is per open-file-description) — makes the
        non-blocking acquire fail, and no read-check-act window exists
        anywhere, so two handles can never both own the lock (the
        round-7 review found the rename-reclaim predecessor still had a
        3-process steal sequence).  The pid is written into the file
        purely for the refusal diagnostic.  The file is deliberately
        never unlinked on release: unlink+flock reintroduces the race
        (a contender can lock an unlinked inode while a fresh file takes
        the path); an empty 16-byte lockfile at rest is the documented
        cost.  Caveat: flock is advisory and per-host — on NFS or for
        cross-host exclusion, front the store with a real coordination
        service; same contract as the reference's Badger directory lock."""
        import fcntl

        fd = os.open(self._lock_path, os.O_CREAT | os.O_RDWR)
        try:
            fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
        except OSError:
            try:
                with open(self._lock_path) as f:
                    holder = f.read().strip() or "unknown"
            except OSError:
                holder = "unknown"
            os.close(fd)
            raise ValueError(
                f"{self.path} is locked by live writer pid {holder}; "
                "stop it or open without exclusive=True"
            )
        os.ftruncate(fd, 0)
        os.write(fd, str(os.getpid()).encode())
        self._lock_fd = fd
        self._owns_lock = True

    def _release_writer_lock(self) -> None:
        if self._owns_lock:
            import fcntl

            try:
                fcntl.flock(self._lock_fd, fcntl.LOCK_UN)
            except OSError:
                pass
            try:
                os.close(self._lock_fd)
            except OSError:
                pass
            self._lock_fd = None
            self._owns_lock = False

    def _assert_writable(self) -> None:
        if self._defunct:
            raise ValueError(
                "this handle was invalidated by a failed close(); its "
                "writer lock is released, so writing through it could "
                "race a new exclusive writer — reopen the DB (buffered "
                "rows are recovered by WAL replay when the DB was "
                "opened with durable_appends=True)"
            )
        if self._read_only:
            raise ValueError(
                "this handle is a read-only snapshot (at_commit=...); "
                "open the DB head to write"
            )

    def _save_registry(self) -> None:
        self._assert_writable()
        if self.keep_versions > 0 and os.path.exists(self._registry_path):
            # archive the registry being superseded under ITS commit seq;
            # tmp+replace so a crash never leaves a torn archive, and the
            # prune keeps the newest keep_versions snapshots
            os.makedirs(self._history_dir, exist_ok=True)
            with open(self._registry_path) as f:
                prev = json.load(f)
            pseq = prev.get("commit_seq", 0)
            htmp = os.path.join(self._history_dir, f".tmp-{pseq}")
            with open(htmp, "w") as f:
                json.dump(prev, f)
            os.replace(
                htmp,
                os.path.join(self._history_dir, f"streams-{pseq:012d}.json"),
            )
            import glob as _glob

            snaps = sorted(
                _glob.glob(os.path.join(self._history_dir, "streams-*.json"))
            )
            for old in snaps[: -self.keep_versions]:
                os.remove(old)
        self._commit_seq += 1
        data = {
            "commit_seq": self._commit_seq,
            "streams": {
                str(s.meta.stream_id): {
                    "stream_id": s.meta.stream_id,
                    "ops": s.meta.ops,
                    "window_kind": s.meta.window_kind,
                    "window_params": s.meta.window_params,
                    "buffer_size": s.meta.buffer_size,
                    "n": s.meta.n,
                    "last_ts": s.meta.last_ts,
                    "next_seq": s.meta.next_seq,
                    "dirty": s.meta.dirty,
                }
                for s in self._streams.values()
            },
            "segments": self._segments,
            "stores": self._stores,
        }
        tmp = self._registry_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(data, f)
        os.replace(tmp, self._registry_path)

    # -- durable-append WAL ---------------------------------------------

    def _wal_append(self, rows: Sequence[Tuple[int, int, int, float]]) -> None:
        """Journal acknowledged rows before append_pairs returns (opt-in,
        ``durable_appends=True``): one fsync'd JSON line per batch.  The
        reference WAL persists every append before ack
        (core/pipeline.go:97-107) with a 0-1 s async fsync window; this
        journal fsyncs per batch, so an acknowledged row is NEVER lost —
        a crash replays the tail beyond the committed counters."""
        if self._wal_file is None:
            created = not os.path.exists(self._wal_path)
            self._wal_file = open(self._wal_path, "a")
            if created:
                # fsync the parent directory too: file data fsync alone
                # does not persist the new directory entry, so on power
                # loss the journal file itself could vanish
                dfd = os.open(os.path.dirname(self._wal_path), os.O_RDONLY)
                try:
                    os.fsync(dfd)
                finally:
                    os.close(dfd)
        self._wal_file.write(json.dumps(rows) + "\n")
        self._wal_file.flush()
        os.fsync(self._wal_file.fileno())

    def _wal_truncate(self) -> None:
        """Drop the journal once a registry commit covers its rows (the
        committed event segment supersedes it)."""
        if self._wal_file is not None:
            self._wal_file.close()
            self._wal_file = None
        if os.path.exists(self._wal_path):
            os.remove(self._wal_path)

    def _replay_wal(self) -> None:
        """Recover acknowledged-but-unflushed rows into the pending buffer.
        Rows with seq < the stream's committed next_seq are already in a
        committed event segment (crash landed between the segment commit
        and the WAL truncate) and are skipped; a torn final line (crash
        mid-write of an unacknowledged batch) is ignored."""
        if not os.path.exists(self._wal_path):
            return
        with open(self._wal_path) as f:
            for line in f:
                try:
                    rows = json.loads(line)
                except ValueError:
                    break  # torn tail: the batch was never acknowledged
                for sid, seq, ts, value in rows:
                    s = self._streams.get(int(sid))
                    if s is None or seq < s.meta.next_seq:
                        continue
                    self._pending.append((int(sid), int(seq), int(ts), float(value)))
                    s.meta.next_seq = seq + 1
                    s.meta.n += 1
                    s.meta.last_ts = max(s.meta.last_ts, int(ts))
                    s.meta.dirty = True

    @staticmethod
    def open(
        spark: SparkSession,
        path: str,
        durable_appends: bool = False,
        keep_versions: int = 0,
        at_commit: Optional[int] = None,
        exclusive: bool = False,
    ) -> "SummaryDB":
        """Reopen an existing DB (core/db.go:49-59); recovery is trivial
        because all state lives in replayable tables (plus a WAL replay
        when the previous handle ran with ``durable_appends``).

        ``at_commit=N`` opens the DB as committed at snapshot N — a
        read-only time-travel handle over the archived registry (only
        available for commits made under ``keep_versions > 0``; list
        them with :meth:`list_commits`).

        Vacuum hazard: a snapshot handle is only valid while its commit
        stays within the live writer's ``keep_versions`` retention
        window.  Once ``keep_versions`` NEWER commits land, the archived
        registry is pruned and the next store sweep reclaims its
        segment/store directories, so the snapshot's lazy DataFrames can
        fail mid-query.  This is the standard Delta/Iceberg
        VACUUM-vs-reader contract: size ``keep_versions`` to cover the
        longest reader."""
        return SummaryDB(
            spark,
            path,
            durable_appends=durable_appends,
            keep_versions=keep_versions,
            exclusive=exclusive,
            _at_commit=at_commit,
        )

    def new_stream(
        self,
        ops: Sequence[str] = DEFAULT_OPS,
        windowing=None,
        *,
        stream_id: Optional[int] = None,
        buffer_size: int = 0,
    ) -> Stream:
        from summarydb_spark.windowing import ExpWindowing

        self._assert_writable()
        windowing = windowing or ExpWindowing(2.0)
        sid = stream_id if stream_id is not None else (max(self._streams, default=-1) + 1)
        if sid in self._streams:
            raise ValueError(f"stream {sid} exists")
        meta = _StreamMeta(
            stream_id=sid,
            ops=list(ops),
            window_kind=windowing.kind,
            window_params=windowing.params(),
            buffer_size=buffer_size,
        )
        s = Stream(self, meta)
        self._streams[sid] = s
        self._commit()
        return s

    def get_stream(self, stream_id: int) -> Stream:
        return self._streams[stream_id]

    # -- storage --------------------------------------------------------

    @staticmethod
    def _new_seg() -> str:
        import uuid

        return "s" + uuid.uuid4().hex[:10]

    def _write_events(self, df: DataFrame) -> str:
        """Write one immutable event segment.  The segment becomes visible
        only when a subsequent _save_registry commits its name — a crash
        mid-write (or between write and commit) leaves an orphan directory
        that readers never list and _sweep_orphans removes.  This is the
        manifest-commit model (the tiny-Delta analogue of the reference's
        single-transaction batch put, storage/badger_backend.go:226-263)."""
        seg = self._new_seg()
        path = os.path.join(self._events_path, f"seg={seg}")
        df.write.partitionBy("stream_id").parquet(path)
        self._segments["events"].append(seg)
        return path

    def _write_landmarks(self, df: DataFrame) -> None:
        """Write one immutable landmark segment (same commit protocol as
        _write_events; the caller must _save_registry to publish it)."""
        seg = self._new_seg()
        df.write.parquet(os.path.join(self._landmarks_path, f"seg={seg}"))
        self._segments["landmarks"].append(seg)

    def _flush_pending(self) -> None:
        """Persist the buffered append_pairs rows (coalesced — one file per
        touched stream per flush) and the registry counters that cover them.
        The rows and their counters commit together in _save_registry: a
        crash at any point leaves either the pre-append state (orphan
        segment, old counters — no acknowledged-on-disk rows) or the fully
        committed one; duplicate seq/ts after restart is impossible."""
        if not self._pending:
            return
        df = local_frame(self.spark, self._pending, EVENT_SCHEMA)
        self._write_events(df.coalesce(1))
        self._pending.clear()
        self._save_registry()
        # rows are in a committed segment now; the journal is obsolete
        # (crash before this point replays; replay skips seq < next_seq)
        self._wal_truncate()

    def events(self) -> DataFrame:
        self._flush_pending()
        segs = self._segments["events"]
        if not segs:
            return local_frame(self.spark, [], EVENT_SCHEMA)
        # explicit schema: no schema-inference job over the segment footers
        df = (
            self.spark.read.schema(EVENT_SCHEMA)
            .option("basePath", self._events_path)
            .parquet(*[os.path.join(self._events_path, f"seg={s}") for s in segs])
        )
        return df.select(
            F.col("stream_id").cast("long"), "seq", "ts", "value"
        )

    def compact_events(self) -> int:
        """Merge the committed event and landmark segments into one
        segment each — the small-file compaction every flush-per-batch
        ingest eventually needs (each flush writes one coalesced segment;
        a year of hourly flushes is ~9k directories whose listing cost
        taxes every query scan).  Readers are never blocked: the merged
        segments are written to fresh directories and published by the
        single atomic registry replace; a crash at any point leaves the
        previous segment list fully intact, and segments referenced by
        retained time-travel snapshots survive the sweep.  Returns the
        number of segments compacted away."""
        self._assert_writable()
        self._flush_pending()
        compacted = 0
        if len(self._segments["events"]) > 1:
            old = list(self._segments["events"])
            # one directory per stream, rows ordered by seq within it —
            # the layout a fresh single-flush DB would have written
            self._write_events(
                self.events()
                .repartition("stream_id")
                .sortWithinPartitions("stream_id", "seq")
            )
            self._segments["events"] = [
                s for s in self._segments["events"] if s not in old
            ]
            compacted += len(old)
        if len(self._segments["landmarks"]) > 1:
            old = list(self._segments["landmarks"])
            lm = self.landmarks_df()
            self._write_landmarks(lm.coalesce(1))
            self._segments["landmarks"] = [
                s for s in self._segments["landmarks"] if s not in old
            ]
            compacted += len(old)
        if compacted:
            self._save_registry()
            self._sweep_orphans()  # drop superseded dirs (snapshots keep theirs)
        return compacted

    def landmarks_df(self) -> Optional[DataFrame]:
        """Committed landmark rows (LANDMARK_SCHEMA) or None when empty."""
        segs = self._segments["landmarks"]
        if not segs:
            return None
        df = self.spark.read.option("basePath", self._landmarks_path).parquet(
            *[os.path.join(self._landmarks_path, f"seg={s}") for s in segs]
        )
        return df.select(
            "stream_id", "window_id", "time_start", "time_end", "ts", "value"
        )

    def summary_windows(self) -> DataFrame:
        return self.spark.read.schema(SUMMARY_SCHEMA).parquet(self._summary_path)

    def flush(self, stream_ids: Optional[Sequence[int]] = None) -> None:
        """Rebuild the canonical summary and sketch windows of the dirty
        streams in one pass.

        The dirty streams' events are read once.  One index window numbers
        them and one bucketing step covers every windowing config
        (``bucketed_configs``); the stream sizes that the boundary binning
        needs come from the registry (``meta.n``), and the JVM binning
        guard raises if a stream's events disagree with them.  One
        ``groupBy(stream_id, bucket)`` then yields the summary columns and
        each stream's declared sketches (``summarize_windows``).  Both
        store versions are written from that window relation; it is not
        cached, so a flush with dirty sketch streams computes it once per
        write.

        COMPUTE is incremental (only dirty streams re-summarize; clean
        streams' rows are carried over with a scan-copy of the
        O(streams x log n)-row store), but the COMMIT is a whole-store
        version swap: new summary/sketch versions are written to fresh
        directories and published — together with the dirty flags and any
        pending event segment — by the single atomic registry replace.  A
        crash at any point leaves the previous versions fully intact (the
        reference's transactional commit, storage/badger_backend.go:210-263;
        at petabyte summary sizes swap the version dir for a Delta/Iceberg
        table to get partition-level manifests — the commit point stays a
        single pointer swap).
        """
        self._assert_writable()
        targets = [
            s
            for s in self._streams.values()
            if (stream_ids is None or s.meta.stream_id in stream_ids) and s.meta.dirty
        ]
        if not targets:
            return
        dirty_sids = [s.meta.stream_id for s in targets]
        # group streams by identical windowing config
        by_cfg: dict = {}
        for s in targets:
            key = (s.meta.window_kind, json.dumps(s.meta.window_params), s.meta.buffer_size)
            by_cfg.setdefault(key, []).append(s.meta)
        # the events are the dirty streams' only, so a single config
        # needs no per-stream selection
        configs = [
            (
                windowing_from_params(kind, json.loads(params_json)),
                buf,
                [m.stream_id for m in metas] if len(by_cfg) > 1 else None,
                [m.n for m in metas],
            )
            for (kind, params_json, buf), metas in by_cfg.items()
        ]
        # streams declaring sketch ops get per-window sketch state too
        sketch_streams: dict = {}
        for s in targets:
            for op in set(s.meta.ops) & set(SKETCH_OPS):
                sketch_streams.setdefault(op, []).append(s.meta.stream_id)
        ev = self.events().where(F.col("stream_id").isin(dirty_sids))
        old_stores = [self._stores.get("summary"), self._stores.get("sketches")]
        windows = summarize_windows(
            bucketed_configs(ev, configs, order_cols=("seq",)), sketch_streams
        )
        self._stores["summary"] = self._write_store_version(
            "summary", windows.select(*SUMMARY_COLS), old_stores[0], dirty_sids
        )
        if sketch_streams:
            sk_sids = sorted({sid for sids in sketch_streams.values() for sid in sids})
            sk_cols = [c for c in SKETCH_COLS if c in windows.columns]
            self._stores["sketches"] = self._write_store_version(
                "sketches",
                windows.where(F.col("stream_id").isin(sk_sids)).select(
                    "stream_id", "time_start", "time_end", "window_id", "count",
                    *sk_cols,
                ),
                old_stores[1],
                dirty_sids,
            )
        for s in targets:
            s.meta.dirty = False
        self._save_registry()  # the commit point: pointers + dirty flags
        import shutil

        protected = self._protected_store_versions()
        for old in old_stores:
            if old and old not in protected:  # retained snapshots keep theirs
                shutil.rmtree(os.path.join(self.path, old), ignore_errors=True)

    def _write_store_version(
        self, kind: str, new_rows: DataFrame, current: Optional[str], dirty_sids
    ) -> str:
        """Write <kind>-<uuid>/ = carried-over clean-stream rows + rebuilt
        dirty-stream rows; returns the new version name (NOT yet committed)."""
        total = new_rows
        if current:
            reader = self.spark.read
            if kind == "summary":  # the sketch columns vary per flush
                reader = reader.schema(SUMMARY_SCHEMA)
            carry = (
                reader.parquet(os.path.join(self.path, current))
                .drop("sid")
                .where(~F.col("stream_id").isin(dirty_sids))
            )
            total = carry.unionByName(new_rows, allowMissingColumns=True)
        version = f"{kind}-{self._new_seg()}"
        total.withColumn("sid", F.col("stream_id")).write.partitionBy("sid").parquet(
            os.path.join(self.path, version)
        )
        return version

    def close(self) -> None:
        """Flush dirty streams and drop the append journal.  On a
        read-only snapshot handle (``open(..., at_commit=N)``) this is a
        no-op: there is nothing to flush, and touching the WAL would
        delete the LIVE writer's ``append.wal`` out from under it.

        Failure contract: if the flush raises, the handle is marked
        DEFUNCT before the lock is released — every later write through
        it refuses loudly, so a retry cannot race a new exclusive
        writer that legitimately acquired the freed lock (round-7
        review finding).  Un-flushed buffered rows are lost with the
        handle unless the DB was opened with ``durable_appends=True``,
        in which case the journal survives (it is only truncated after
        a clean flush) and reopen replays it — the same
        durability boundary ``append_pairs`` documents."""
        if self._read_only:
            return
        try:
            self.flush()
            self._wal_truncate()
        except BaseException:
            self._defunct = True
            raise
        finally:
            # release even on failure: the pid stays alive, so a leaked
            # lock would refuse every later exclusive open from this
            # process; the _defunct flag above keeps the released lock
            # safe from this handle's retries
            self._release_writer_lock()
