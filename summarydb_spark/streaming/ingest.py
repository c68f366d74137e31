"""Structured Streaming ingest: events stream -> decayed summary state.

Replaces the reference's four-actor pipeline + WAL (core/pipeline.go,
core/ingester.go, core/writer.go, core/merger.go, storage/wal.go) with the
standard Spark recovery contract:

- **source**: any streaming DataFrame (file source, Kafka, rate...); tests
  use a parquet directory source, the replayable-source analogue of the WAL.
- **batching/back-pressure**: micro-batch trigger (``availableNow`` or
  processing-time) instead of the bounded buffer pool
  (core/allocator.go:26-48).
- **summarize+merge**: each micro-batch folds into the canonical summary
  via ``merge_summary_increment`` — O(streams * log N) state, no history
  rescan (see operators/incremental.py).
- **durability / exactly-once**: the streaming checkpoint tracks source
  offsets; summary state is written as a versioned snapshot directory
  ``state_dir/v=<batch_id>`` with a ``_COMMIT`` marker written last.  A
  replayed batch (crash between state write and offset commit) sees its
  version already committed and skips — idempotent foreachBatch, the same
  contract the reference builds by persisting (count, timestamp) markers
  in one Badger txn (storage/badger_backend.go:210-224).
- **recovery**: restart with the same checkpoint dir; Spark replays only
  unprocessed source data and the pipeline resumes from the latest
  committed state version (the reference's WAL-replay PrimeUp,
  core/pipeline.go:294-335, collapses into this).

State layout under ``state_dir``::

    v=<batch_id>/summary.parquet     canonical summary windows
    v=<batch_id>/meta.json           {"batch_id": ...}
    v=<batch_id>/_COMMIT             empty marker, written last

The per-stream counters (stream_id, n, last_ts) are DERIVED from the
summary itself at load time (n = newest count_end + 1, last_ts = newest
time_end) as a lazy aggregate folded into the next batch's plan — the
summary is being read anyway, so the derivation costs no extra scan and
the batch step saves a whole write job per micro-batch.  Counters never
touch the driver: the derived DataFrame broadcast-joins into the merge,
so driver memory and plan size stay O(1) in #streams (the reference
keeps the same metadata in storage, core/db.go:100-150).  Older state
dirs that carry an explicit ``state.parquet`` (or counters in meta.json)
still load.
"""

from __future__ import annotations

import json
import os
import shutil
from typing import Mapping, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from summarydb_spark.operators.incremental import merge_summary_increment
from summarydb_spark.operators.summary import SUMMARY_COLS, SUMMARY_SCHEMA
from summarydb_spark.session import local_frame


def _versions(state_dir: str) -> list[int]:
    if not os.path.isdir(state_dir):
        return []
    out = []
    for d in os.listdir(state_dir):
        if d.startswith("v=") and os.path.exists(
            os.path.join(state_dir, d, "_COMMIT")
        ):
            out.append(int(d[2:]))
    return sorted(out)


def latest_version(state_dir: str) -> Optional[int]:
    vs = _versions(state_dir)
    return vs[-1] if vs else None


def load_sketches(
    spark: SparkSession, state_dir: str, version: Optional[int] = None
) -> Optional[DataFrame]:
    """Per-window sketch state of the given/latest committed version (only
    present when the summarizer was started with ``sketch_ops``)."""
    v = version if version is not None else latest_version(state_dir)
    if v is None:
        return None
    p = os.path.join(state_dir, f"v={v}", "sketches.parquet")
    return spark.read.parquet(p) if os.path.isdir(p) else None


def load_state_df(
    spark: SparkSession, state_dir: str, version: Optional[int] = None
) -> tuple[Optional[DataFrame], Optional[DataFrame]]:
    """Return (summary_df | None, state_df | None) for the given/latest
    committed version; ``state_df`` has (stream_id, n, last_ts).  This is
    the scale path — per-stream counters never touch the driver."""
    v = version if version is not None else latest_version(state_dir)
    if v is None:
        return None, None
    vdir = os.path.join(state_dir, f"v={v}")
    # the fixed schema skips the schema-inference job; a fold snapshot is
    # not partitioned, so the store's sid column is dropped again
    df = (
        spark.read.schema(SUMMARY_SCHEMA)
        .parquet(os.path.join(vdir, "summary.parquet"))
        .drop("sid")
    )
    sp = os.path.join(vdir, "state.parquet")
    if os.path.isdir(sp):
        # legacy layout: counters materialized per batch
        return df, spark.read.parquet(sp)
    with open(os.path.join(vdir, "meta.json")) as f:
        meta = json.load(f)
    if meta.get("counts"):
        # oldest layout: counters in meta.json (small by definition)
        counts = {int(k): int(n) for k, n in meta["counts"].items()}
        last_ts = {int(k): int(n) for k, n in meta.get("last_ts", {}).items()}
        state = local_frame(
            spark,
            [(k, n, last_ts.get(k)) for k, n in counts.items()],
            "stream_id long, n long, last_ts long",
        )
        return df, state
    # current layout: counters derived lazily from the summary — the
    # newest window per stream carries both n-1 (count_end) and last_ts
    # (time_end), so the caller's plan folds this aggregate into the same
    # summary scan it already performs
    state = df.groupBy("stream_id").agg(
        (F.max("count_end") + 1).cast("long").alias("n"),
        F.max("time_end").cast("long").alias("last_ts"),
    )
    return df, state


def load_state(
    spark: SparkSession, state_dir: str, version: Optional[int] = None
) -> tuple[Optional[DataFrame], dict, dict]:
    """Dict-returning convenience accessor (tests / small deployments):
    (summary_df | None, counts, last_ts)."""
    df, state = load_state_df(spark, state_dir, version)
    if state is None:
        return df, {}, {}
    rows = state.collect()
    counts = {r["stream_id"]: r["n"] for r in rows}
    last_ts = {
        r["stream_id"]: r["last_ts"] for r in rows if r["last_ts"] is not None
    }
    return df, counts, last_ts


class StreamingSummarizer:
    """foreachBatch sink folding an events stream into decayed summaries.

    Parameters mirror the batch builder; ``windowing`` is either ONE
    ExpWindowing/PowerWindowing policy shared by every stream in the
    source, or a per-stream map ``{stream_id: policy}`` — the reference
    fixes policy per stream at creation (core/db.go:61-80), so a
    mixed-policy DB streams through ONE summarizer: streams group by
    identical policy config and one bucketing step buckets every group in
    the same micro-batch plan (operators.summary.bucket_by_config).
    With a map, a batch containing an UNMAPPED stream id raises — the
    same register-before-ingest contract as the reference."""

    def __init__(
        self,
        spark: SparkSession,
        windowing,
        state_dir: str,
        *,
        stream_col: str = "stream_id",
        ts_col: str = "ts",
        value_col: str = "value",
        order_cols: tuple = (),
        buffer_size: int = 0,
        clamp_order_col: Optional[str] = None,
        sketch_ops: tuple = (),
    ) -> None:
        self.spark = spark
        self.windowing = windowing
        self.state_dir = state_dir
        self.stream_col = stream_col
        self.ts_col = ts_col
        self.value_col = value_col
        self.order_cols = order_cols
        self.buffer_size = buffer_size
        # when non-empty, per-window sketch state (bloom/cms/hll/kll) is
        # maintained incrementally next to the scalar summary — the same
        # coarsening-merge step, sketch monoids instead of count/sum
        self.sketch_ops = tuple(sketch_ops)
        # when set, reproduce the reference's out-of-order clamp
        # ts' = max(ts, prev_ts + 1) across batches (core/pipeline.go:80-84),
        # ordering each stream's batch rows by this column
        self.clamp_order_col = clamp_order_col
        os.makedirs(state_dir, exist_ok=True)

    # -- batch step --------------------------------------------------------

    def process_batch(self, batch: DataFrame, batch_id: int) -> None:
        vdir = os.path.join(self.state_dir, f"v={batch_id}")
        latest = latest_version(self.state_dir)
        if latest is not None and batch_id < latest:
            # A batch id BEHIND the committed head means the streaming
            # checkpoint does not belong to this state dir (it was
            # deleted/reset or points at different source offsets).
            # Proceeding would either silently skip data (v=batch_id
            # already committed) or write versions latest_version() never
            # selects — both are silent corruption; refuse loudly instead
            # (same contract as the engine's legacy-layout open refusal).
            raise RuntimeError(
                f"state_dir {self.state_dir!r} is at v={latest} but the "
                f"checkpoint delivered batch {batch_id}; the checkpoint "
                "was reset or belongs to another query. Use a fresh "
                "state_dir or restore the original checkpoint."
            )
        if os.path.exists(os.path.join(vdir, "_COMMIT")):
            return  # replay of the last committed batch: already folded
        if isinstance(self.windowing, Mapping):
            # ONE job for both pre-flight checks: emptiness + the loud
            # totality check (the bucketing would drop or fail on rows of
            # unmapped streams — refuse up front instead; reference
            # registers streams before ingest, core/db.go:61).  The old
            # isEmpty + filter/limit pair scanned the batch twice in the
            # all-mapped common case; this aggregate scans once with
            # map-side partials.
            chk = batch.agg(
                F.count(F.lit(1)).alias("n"),
                F.min(
                    F.when(
                        ~F.col(self.stream_col).isin(
                            [int(s) for s in self.windowing]
                        ),
                        F.col(self.stream_col),
                    )
                ).alias("bad"),
            ).collect()[0]
            if chk["n"] == 0:
                return
            if chk["bad"] is not None:
                raise ValueError(
                    f"batch {batch_id} contains stream "
                    f"{chk['bad']} with no windowing policy; add "
                    "it to the windowing map before ingesting"
                )
        elif batch.isEmpty():
            return
        old_summary, state = load_state_df(self.spark, self.state_dir)
        if self.clamp_order_col is not None:
            from summarydb_spark.operators.summary import clamp_monotonic

            batch = clamp_monotonic(
                batch,
                stream_col=self.stream_col,
                ts_col=self.ts_col,
                order_col=self.clamp_order_col,
                last_ts=(
                    state.select(
                        F.col("stream_id").alias(self.stream_col), "last_ts"
                    )
                    if state is not None
                    else None
                ),
            )
        counts = state.select("stream_id", "n") if state is not None else None
        new_summary = merge_summary_increment(
            old_summary,
            batch,
            self.windowing,
            base_counts=counts,
            stream_col=self.stream_col,
            ts_col=self.ts_col,
            value_col=self.value_col,
            order_cols=self.order_cols,
            buffer_size=self.buffer_size,
            # the counts come from load_state_df, i.e. are derived from
            # old_summary itself and cover every stream in it — the
            # merge can provably skip its carried-counts repair join
            counts_cover_state=True,
        )
        new_sketches = None
        if self.sketch_ops:
            from summarydb_spark.operators.incremental import (
                merge_sketch_increment,
            )

            old_sketches = load_sketches(self.spark, self.state_dir)
            new_sketches = merge_sketch_increment(
                old_sketches,
                batch,
                self.windowing,
                self.sketch_ops,
                counts,
                stream_col=self.stream_col,
                ts_col=self.ts_col,
                value_col=self.value_col,
                order_cols=self.order_cols,
                buffer_size=self.buffer_size,
            )

        # write snapshot into the version dir, commit marker LAST: an
        # uncommitted version dir is ignored by readers and overwritten by
        # a replay (object-store friendly — no renames required)
        if os.path.exists(vdir):
            shutil.rmtree(vdir)
        os.makedirs(vdir)
        new_summary.write.mode("overwrite").parquet(
            os.path.join(vdir, "summary.parquet")
        )
        if new_sketches is not None:
            new_sketches.write.mode("overwrite").parquet(
                os.path.join(vdir, "sketches.parquet")
            )
        # per-stream counters are NOT materialized: load_state_df derives
        # (n, last_ts) lazily from the summary the next reader scans
        # anyway — one fewer write job per micro-batch.  (Round-7 also
        # measured: persisting new_summary to feed such an aggregate from
        # cache is ~1.5x SLOWER per fold — the cached subtree loses AQE.)
        with open(os.path.join(vdir, "meta.json"), "w") as f:
            json.dump({"batch_id": batch_id}, f)
        with open(os.path.join(vdir, "_COMMIT"), "w"):
            pass
        # prune superseded snapshots (keep the new head + one previous):
        # only the head is ever read, and an unbounded version history
        # grows the state dir by a full summary copy per micro-batch
        stale = sorted(v for v in _versions(self.state_dir) if v < batch_id)
        for v in stale[:-1]:
            shutil.rmtree(
                os.path.join(self.state_dir, f"v={v}"), ignore_errors=True
            )

    # -- stream wiring -----------------------------------------------------

    def start(
        self,
        source: DataFrame,
        checkpoint_dir: str,
        *,
        available_now: bool = True,
        processing_time: Optional[str] = None,
    ):
        """Attach to a streaming DataFrame and start the query."""
        writer = (
            source.writeStream.foreachBatch(self.process_batch)
            .option("checkpointLocation", checkpoint_dir)
            .outputMode("update")
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        elif processing_time:
            writer = writer.trigger(processingTime=processing_time)
        return writer.start()

    def summary(self) -> Optional[DataFrame]:
        df, _counts, _last = load_state(self.spark, self.state_dir)
        if df is not None:
            return df.select(*SUMMARY_COLS)
        return None

    def query_many(self, op: str, triples, params=None) -> DataFrame:
        """Batched approx range queries over the LATEST committed streaming
        snapshot — the engine's uniform estimator surface pointed at live
        streaming state.

        ``triples``: (stream_id, t0, t1) tuples; ``op``: count | sum |
        max | min.  Returns (stream_id, qid, t0, t1, value, error, ...)
        exactly like ``SummaryDB.query_many``.  The reference must flush
        its pipeline before any query (core/stream.go:156-160); here every
        committed micro-batch is immediately queryable, and Q queries
        still cost one broadcast-overlap-join job.
        """
        from summarydb_spark.operators.query_df import (
            approx_range_frame,
            minmax_range_frame,
        )

        summary = self.summary()
        if summary is None:
            summary = local_frame(
                self.spark, [], "stream_id long, time_start long, time_end long, "
                "count double, sum double, max double, min double"
            )
        ranges_df = local_frame(
            self.spark,
            [
                (int(s), i, int(t0), int(t1))
                for i, (s, t0, t1) in enumerate(triples)
            ],
            "stream_id long, qid long, t0 long, t1 long",
        )
        if op in ("count", "sum"):
            return approx_range_frame(summary, ranges_df, op, params).orderBy(
                "qid"
            )
        if op in ("max", "min"):
            return minmax_range_frame(summary, ranges_df, op).orderBy("qid")
        raise ValueError(f"unknown operator: {op}")

    def query_many_sketch(self, requests) -> DataFrame:
        """Batched SKETCH range queries over the latest committed streaming
        snapshot: mixed (stream_id, op, t0, t1[, arg]) requests
        (membership | frequency | distinct | quantile) answered in one
        lazy plan against the incrementally-maintained per-window sketch
        state (requires ``sketch_ops`` at construction).  Same request/
        result contract as ``SummaryDB.query_many_sketch``.
        """
        from summarydb_spark.operators.sketch_windows import (
            batched_sketch_requests,
        )

        sketches = load_sketches(self.spark, self.state_dir)
        if sketches is None:
            raise ValueError(
                f"no sketch state under {self.state_dir}; start the "
                f"summarizer with sketch_ops=(...)"
            )
        return batched_sketch_requests(self.spark, sketches, requests)
