"""State-store provider selection for stateful Structured Streaming.

The default HDFS-backed provider keeps every state row ON-HEAP in the
executor; at 100 TB the reference's recovery contract
(core/pipeline.go:294-335) maps to streaming state that exceeds executor
heap — stream-stream join state grows with watermark horizon x rate, and
a sessionizer holds one row per live key.  Spark ships an off-heap
RocksDB provider (bundled rocksdbjni, incremental checkpointing to the
same checkpoint location) whose capacity is bounded by local disk, not
heap — the standard production choice for large state.

This module is the one switch point: pass ``state_store="rocksdb"`` to
:func:`summarydb_spark.session.get_spark` (or set the
``SPARK_GRAFT_STATE_STORE`` env var) to run every stateful query on
RocksDB, or scope it to a single query start with
:func:`use_state_store`.  The provider class is recorded in the
checkpoint's offset metadata at the query's FIRST run, so a restart
keeps whatever provider the checkpoint was created with — exactly the
deployment contract the restart test pins.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import SparkSession

PROVIDER_CONF = "spark.sql.streaming.stateStore.providerClass"

ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)

_ALIASES = {
    "rocksdb": ROCKSDB_PROVIDER,
    # the built-in default; selecting it explicitly pins the provider
    # even if the session-level conf says otherwise
    "hdfs": (
        "org.apache.spark.sql.execution.streaming.state."
        "HDFSBackedStateStoreProvider"
    ),
}


def provider_class(state_store: str | None) -> str | None:
    """Resolve a state-store selector to a provider class name.

    ``None``/empty -> None (leave the session conf untouched);
    ``"rocksdb"``/``"hdfs"`` -> the bundled providers; anything else is
    taken verbatim as a fully-qualified provider class."""
    if not state_store:
        return None
    return _ALIASES.get(state_store.lower(), state_store)


def _parse_bytes(v: str) -> int:
    """Parse a Spark size conf value ("8m", "64k", "1g", plain bytes)."""
    s = str(v).strip().lower()
    mult = 1
    for suffix, m in (("k", 1 << 10), ("m", 1 << 20), ("g", 1 << 30)):
        if s.endswith(suffix + "b"):
            s, mult = s[: -(len(suffix) + 1)], m
            break
        if s.endswith(suffix):
            s, mult = s[: -len(suffix)], m
            break
    return int(float(s) * mult)


def _source_bytes(*sources: str) -> int:
    """Total on-disk bytes of the given source files/directories."""
    total = 0
    for src in sources:
        if os.path.isdir(src):
            for root, _dirs, files in os.walk(src):
                total += sum(
                    os.path.getsize(os.path.join(root, f)) for f in files
                )
        elif os.path.isfile(src):
            total += os.path.getsize(src)
    return total


def stream_shuffle_partitions(
    spark: SparkSession, *sources: str, floor: int | None = None,
    cap: int | None = None,
) -> int:
    """Scale-adaptive shuffle/state partition count for a FRESH streaming
    query over the given sources.

    Stateful operators allocate one state store instance per shuffle
    partition (per side, per operator); every micro-batch — including the
    no-data watermark batch — pays an open+commit per instance, so at
    small stream volume the partition count IS the gate's fixed cost
    (measured at sf0.1: the pandas sessionizer gate 8.0 s at the session
    default 32 -> 4.2 s at 8; dropDuplicatesWithinWatermark 7.5 -> 2.4 s).
    A constant would be tuned to exactly one scale, so the count derives
    from the source volume instead, using the SAME per-partition target
    the batch side's AQE coalescing uses
    (``spark.sql.adaptive.advisoryPartitionSizeInBytes``):

        n = clamp(ceil(source_bytes / advisory), floor, cap)
        floor = max(4, cores / 4)   -- parallelism floor: a big machine
                                       should not serialize a small stream
                                       (the pandas gate REGRESSES 4.2 ->
                                       5.5 s at 4 partitions: python
                                       workers want width)
        cap   = 4 * cores           -- bounds state-instance count; a
                                       checkpoint pins the count forever,
                                       so production leaves headroom above
                                       current core count

    At sf0.1 (2 MB events) this lands on the floor (8 on 32 cores); at
    sf10 (~200 MB) it gives ~25 — matching the round-9 sf10 measurement
    that 32 beats 128 there; on a real multi-TB stream it caps at 4x the
    cluster's cores.  SPARK_GRAFT_STREAM_SHUFFLE overrides the derived
    value (the provider x shuffle matrix tooling sets it explicitly).
    """
    env = os.environ.get("SPARK_GRAFT_STREAM_SHUFFLE")
    if env:
        return int(env)
    cores = spark.sparkContext.defaultParallelism
    if floor is None:
        floor = max(4, cores // 4)
    if cap is None:
        cap = 4 * cores
    try:
        advisory = _parse_bytes(
            spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes")
        )
    except Exception:
        advisory = 8 << 20
    n = -(-_source_bytes(*sources) // max(advisory, 1))
    return max(floor, min(cap, n))


@contextmanager
def ephemeral_checkpoint():
    """Yield a fresh checkpoint directory under the system temp dir
    for a query whose checkpoint dies with it (the verification gates'
    memory-sink queries), and remove it afterwards.  Each query start
    gets its OWN directory — a reused checkpoint would replay committed
    offsets and silently skip the source data on the next run (memory
    sinks are rebuilt per query, so the sink would be empty/stale:
    correctness, not just staleness).  Durable deployments pass an
    explicit ``checkpointLocation`` on real storage."""
    import shutil
    import tempfile

    path = tempfile.mkdtemp(prefix="sdb_stream_ckpt_")
    try:
        yield path
    finally:
        shutil.rmtree(path, ignore_errors=True)


@contextmanager
def scoped_conf(spark: SparkSession, key: str, value: str | None):
    """Pin one session conf for the block and restore it after;
    ``value=None`` is a no-op (yields without touching the conf)."""
    if value is None:
        yield
        return
    try:
        old = spark.conf.get(key)
    except Exception:
        old = None
    spark.conf.set(key, value)
    try:
        yield
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)


@contextmanager
def scoped_shuffle_partitions(spark: SparkSession, n: int):
    """Pin ``spark.sql.shuffle.partitions`` for the streaming queries
    STARTED inside the block and restore the session default after.  The
    partition count of a stateful query is pinned into its checkpoint at
    first run, so the scope only needs to cover query start."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(int(n)))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


@contextmanager
def use_state_store(spark: SparkSession, state_store: str | None = None):
    """Scope a state-store provider to the streaming queries STARTED
    inside the block (the provider is read at query start; running
    queries are unaffected).  ``state_store=None`` falls back to the
    ``SPARK_GRAFT_STATE_STORE`` env var; if neither is set, this is a
    no-op and the session default applies."""
    cls = provider_class(
        state_store or os.environ.get("SPARK_GRAFT_STATE_STORE")
    )
    if cls is None:
        yield
        return
    try:
        old = spark.conf.get(PROVIDER_CONF)
    except Exception:
        old = None
    spark.conf.set(PROVIDER_CONF, cls)
    try:
        yield
    finally:
        if old is None:
            spark.conf.unset(PROVIDER_CONF)
        else:
            spark.conf.set(PROVIDER_CONF, old)
