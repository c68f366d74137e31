"""SparkSession factory with engine-appropriate defaults.

Local testing runs on local[$SPARK_GRAFT_CPUS]; the same configuration
scales to a real cluster — nothing here assumes single-node execution.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "summarydb-spark",
    cpus: int | str | None = None,
    shuffle_partitions: int | None = None,
    state_store: str | None = None,
) -> SparkSession:
    """Create (or fetch) a SparkSession tuned for the engine.

    - UTC session timezone: keeps timestamp arithmetic and Arrow/pandas
      round-trips consistent with external oracles (DuckDB reads parquet
      timestamps as naive-UTC).
    - AQE on: runtime coalescing + skew-join handling at scale.
    - Arrow on: vectorized exchange for the few pandas-UDF code paths.
    - ``state_store="rocksdb"`` (or SPARK_GRAFT_STATE_STORE=rocksdb):
      run every stateful streaming query on the off-heap RocksDB
      provider — state capacity bounded by local disk, not executor
      heap; the 100 TB deployment default (streaming/state.py).
    """
    from summarydb_spark.streaming.state import PROVIDER_CONF, provider_class

    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS", "32")
    shuffle = shuffle_partitions or int(os.environ.get("SPARK_GRAFT_SHUFFLE", str(cpus)))
    provider = provider_class(
        state_store or os.environ.get("SPARK_GRAFT_STATE_STORE")
    )
    builder = SparkSession.builder
    if provider:
        builder = builder.config(PROVIDER_CONF, provider)
    return (
        builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # default 64m coalesces compute-heavy-but-byte-small stages (LSH
        # candidate joins: a few MB of shingle arrays, quadratic CPU) down
        # to one task; 8m keeps them wide without hurting big scans
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # UI off by default (driver-side overhead per job); profiling
        # sessions opt in with SPARK_GRAFT_UI=1 to read per-stage metrics
        # from the REST API (tools/profile_stages.py)
        .config(
            "spark.ui.enabled",
            "true" if os.environ.get("SPARK_GRAFT_UI") == "1" else "false",
        )
        .config("spark.ui.port", os.environ.get("SPARK_GRAFT_UI_PORT", "4050"))
        .getOrCreate()
    )


def local_frame(spark: SparkSession, rows, schema):
    """DataFrame over driver-side ``rows`` (tuples in ``schema`` order),
    built through Arrow.

    ``createDataFrame(list)`` pickles every row into an RDD that Python
    workers must deserialize again when a job first reads it; an Arrow
    table goes to the JVM as columnar batches, so the jobs that read
    range frames, probe maps, landmark points and the pending append
    buffer start no Python worker.  ``schema`` is a StructType or a DDL
    string; an empty ``rows`` gives an empty frame of that schema."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType, _parse_datatype_string

    if not isinstance(schema, StructType):
        schema = _parse_datatype_string(schema)
    arrow_schema = to_arrow_schema(schema)
    rows = list(rows)
    cols = list(zip(*rows)) if rows else [() for _ in schema.fields]
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)
