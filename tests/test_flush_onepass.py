"""The one-pass ``SummaryDB.flush``: every windowing config bucketed in
one index pass, one aggregation for summary and sketch windows, stream
sizes from the registry.

- parity: the stores equal the standalone single-config builders
  (``build_summary_windows``, ``build_sketch_windows``) config by config,
  on the first flush and on a second flush after more appends;
- job count: a 24-stream, two-policy, half-sketch DB flushes its pending
  appends in a bounded number of Spark jobs;
- UDF fallback: a general policy binned by the pandas UDF next to an
  exp2 config buckets only its own rows there;
- guard: a registry size that disagrees with a stream's events raises in
  the JVM binning guard instead of binning silently;
- schema'd reads: a warm flush plus one ``Stream.query`` reads the
  summary store without schema-inference jobs.
"""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from summarydb_spark.engine import DEFAULT_OPS, SummaryDB
from summarydb_spark.functions import sketch
from summarydb_spark.operators.sketch_windows import (
    BLOOM_K,
    BLOOM_M,
    CMS_DEPTH,
    CMS_WIDTH,
    KLL_K,
    build_sketch_windows,
)
from summarydb_spark.operators import summary
from summarydb_spark.operators.summary import (
    SUMMARY_COLS,
    bucketed_events,
    build_summary_windows,
)
from summarydb_spark.windowing import (
    ExpWindowing,
    PowerWindowing,
    canonical_boundaries,
)

T0 = 1_700_000_000_000

CONFIGS = [
    ("exp2", ExpWindowing(2.0), 0),
    ("power", PowerWindowing(1, 1, 1, 1), 0),
    ("exp2_buf", ExpWindowing(2.0), 8),
]
OP_SETS = [
    (),
    ("bloom",),
    ("cms", "hll"),
    ("bloom", "cms", "hll", "kll"),
]
# DataSketches KLL at k=200 declares ~1.65% normalized rank error (the
# engine's reported quantile error); twice that keeps a few hundred
# randomized checks from flaking
KLL_RANK_TOL = 2 * 0.0165


def _append(db, sid, rng, n):
    st = db.get_stream(sid)
    start = st.meta.last_ts + 1 if st.meta.n else T0 + sid * 1_000
    ts = start + np.cumsum(rng.integers(1, 5, n))
    vals = rng.integers(0, 60, n).astype(float)
    st.append_pairs(list(zip(ts.tolist(), vals.tolist())))


def _rows(df, cols):
    return {tuple(r[c] for c in cols) for r in df.select(*cols).collect()}


def _new_streams(db, configs):
    for ci, (_name, win, buf) in enumerate(configs):
        for k, ops in enumerate(OP_SETS):
            db.new_stream(
                ops=DEFAULT_OPS + ops,
                windowing=win,
                buffer_size=buf,
                stream_id=ci * len(OP_SETS) + k,
            )


def _check_parity(db, configs=CONFIGS):
    ev = db.events()
    stored_sum = db.summary_windows().drop("sid")
    stored_sk = db.spark.read.parquet(db._sketches_path).drop("sid")
    for ci, (_name, win, buf) in enumerate(configs):
        sids = [ci * len(OP_SETS) + k for k in range(len(OP_SETS))]
        sub = ev.where(F.col("stream_id").isin(sids))
        want = build_summary_windows(
            sub, win, order_cols=("seq",), buffer_size=buf
        )
        got = stored_sum.where(F.col("stream_id").isin(sids))
        assert _rows(got, SUMMARY_COLS) == _rows(want, SUMMARY_COLS), _name
        for k, ops in enumerate(OP_SETS):
            sid = sids[k]
            if not ops:
                assert stored_sk.where(F.col("stream_id") == sid).count() == 0
                continue
            one = ev.where(F.col("stream_id") == sid)
            bucketed = bucketed_events(
                one, win, order_cols=("seq",), buffer_size=buf
            )
            _check_sketches(
                stored_sk.where(F.col("stream_id") == sid),
                build_sketch_windows(bucketed, ops, keep_bucket=True),
                bucketed,
                ops,
            )


def _check_sketches(stored, want, bucketed, ops):
    key = ["stream_id", "window_id"]
    base = ["time_start", "time_end", "count"]
    assert _rows(stored, key + base) == _rows(want, key + base)
    for op in ("bloom", "cms", "hll", "kll"):
        if op not in ops:
            # a stream's sketch columns are gated by its declared ops
            if op in stored.columns:
                assert stored.where(F.col(op).isNotNull()).count() == 0, op
    if "bloom" in ops or "cms" in ops:
        maps = [op for op in ("bloom", "cms") if op in ops]
        got = {
            tuple(r[k] for k in key): {m: dict(r[m]) for m in maps}
            for r in stored.select(*key, *maps).collect()
        }
        ref = {
            tuple(r[k] for k in key): {m: dict(r[m]) for m in maps}
            for r in want.select(*key, *maps).collect()
        }
        assert got == ref
        # and equal to the standalone functions.sketch aggregates
        wid = want.select("stream_id", "bucket", "window_id")
        if "bloom" in ops:
            blooms = sketch.bloom_aggregate(
                bucketed, ["stream_id", "bucket"], "value", m_bits=BLOOM_M, k=BLOOM_K
            ).join(wid, ["stream_id", "bucket"])
            assert {
                (r["stream_id"], r["window_id"]): dict(r["bloom"])
                for r in blooms.collect()
            } == {k: v["bloom"] for k, v in got.items()}
        if "cms" in ops:
            cells = sketch.cms_aggregate(
                bucketed, ["stream_id", "bucket"], "value",
                depth=CMS_DEPTH, width=CMS_WIDTH,
            ).join(wid, ["stream_id", "bucket"])
            ref_cms: dict = {}
            for r in cells.collect():
                ref_cms.setdefault((r["stream_id"], r["window_id"]), {})[
                    r["_depth"] * CMS_WIDTH + r["_col"]
                ] = r["cnt"]
            assert ref_cms == {k: v["cms"] for k, v in got.items()}
    if "hll" in ops:
        est = F.hll_sketch_estimate("hll").alias("est")
        assert _rows(stored.select(*key, est), key + ["est"]) == _rows(
            want.select(*key, est), key + ["est"]
        )
    if "kll" in ops:
        _check_kll(stored, bucketed, want.select("bucket", "window_id"))


def _check_kll(stored, bucketed, wid):
    qs = (0.1, 0.5, 0.9)
    got = {
        r["window_id"]: (r["n"], [r[f"q{i}"] for i in range(len(qs))])
        for r in stored.select(
            "window_id",
            F.kll_sketch_get_n_double("kll").alias("n"),
            *[
                F.kll_sketch_get_quantile_double("kll", F.lit(q)).alias(f"q{i}")
                for i, q in enumerate(qs)
            ],
        ).collect()
    }
    values: dict = {}
    for r in bucketed.join(wid, "bucket").select("window_id", "value").collect():
        values.setdefault(r["window_id"], []).append(r["value"])
    assert set(got) == set(values)
    for w, (n, quantiles) in got.items():
        vals = np.sort(np.asarray(values[w]))
        assert n == len(vals)
        for q, v in zip(qs, quantiles):
            lo = np.searchsorted(vals, v, side="left") / len(vals)
            hi = np.searchsorted(vals, v, side="right") / len(vals)
            tol = 0.0 if len(vals) <= KLL_K else KLL_RANK_TOL
            assert lo - tol <= q <= hi + tol, (w, q, v, lo, hi)


def test_one_pass_flush_equals_single_config_builders(spark, tmp_path):
    rng = np.random.default_rng(7)
    db = SummaryDB(spark, str(tmp_path / "db"))
    _new_streams(db, CONFIGS)
    for sid in db._streams:
        # distinct sizes per stream, and windows above the KLL compaction
        # threshold in the larger streams
        _append(db, sid, rng, 150 + 37 * sid)
    db.flush()
    _check_parity(db)
    # second flush: some streams grow, one stays clean and is carried over
    for sid in db._streams:
        if sid != 5:
            _append(db, sid, rng, 90 + 11 * sid)
    db.flush()
    _check_parity(db)


def test_udf_fallback_config_buckets_only_its_own_rows(spark, tmp_path, monkeypatch):
    """A general policy whose sizes exceed the JVM binning limits falls
    back to the pandas UDF; in a flush with a second (exp2) config, the
    UDF sees only its own config's rows, and the stores still equal the
    single-config builders."""
    configs = CONFIGS[:2]  # exp2 on streams 0-3, Power(1,1,1,1) on 4-7
    rng = np.random.default_rng(5)
    db = SummaryDB(spark, str(tmp_path / "db"))
    _new_streams(db, configs)
    for sid in db._streams:
        _append(db, sid, rng, 150 + 37 * sid)  # a distinct size per stream
    power_sizes = {db.get_stream(s).meta.n for s in range(4, 8)}
    seen: set = set()

    def spy_udf(windowing, buffer_size):
        bounds = {
            n: np.asarray(canonical_boundaries(windowing, n, buffer_size))
            for n in power_sizes
        }

        @pandas_udf("long")
        def bucket_of(idx: pd.Series, n: pd.Series) -> pd.Series:
            stray = set(n.tolist()) - power_sizes
            if stray:
                raise ValueError(f"UDF saw rows of sizes {sorted(stray)}")
            return pd.Series(
                [
                    int(np.searchsorted(bounds[int(nn)], i, side="right") - 1)
                    for i, nn in zip(idx, n)
                ]
            )

        seen.add(type(windowing).__name__)
        return bucket_of

    monkeypatch.setattr(summary, "JVM_BIN_MAX_DISTINCT_N", 0)
    monkeypatch.setattr(summary, "_bucket_udf_general", spy_udf)
    db.flush()
    assert seen == {"PowerWindowing"}
    monkeypatch.undo()
    _check_parity(db, configs)


def test_flush_job_count_bounded(spark, tmp_path):
    """Pending write plus flush of a 24-stream DB (ExpWindowing(2) on even
    ids, PowerWindowing(1,1,1,1) on odd ids, sketch ops on half) runs a
    bounded number of Spark jobs; counted through a job group, which does
    not drift with the host the way wall time does."""
    rng = np.random.default_rng(3)
    db = SummaryDB(spark, str(tmp_path / "db"))
    for sid in range(24):
        db.new_stream(
            ops=DEFAULT_OPS + (("bloom", "cms", "hll", "kll") if sid % 4 < 2 else ()),
            windowing=ExpWindowing(2.0) if sid % 2 == 0 else PowerWindowing(1, 1, 1, 1),
            stream_id=sid,
        )
    for sid in range(24):
        _append(db, sid, rng, 400)
    db.flush()
    for sid in range(24):
        _append(db, sid, rng, 400)
    sc = spark.sparkContext
    group = "test-flush-job-count"
    sc.setJobGroup(group, "pending write + flush")
    try:
        db.flush()
    finally:
        sc._jsc.clearJobGroup()
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert 0 < len(jobs) <= 16, len(jobs)
    assert db.summary_windows().count() > 0


def test_registry_size_mismatch_raises_in_binning_guard(spark, tmp_path):
    rng = np.random.default_rng(11)
    db = SummaryDB(spark, str(tmp_path / "db"))
    db.new_stream(windowing=PowerWindowing(1, 1, 1, 1), stream_id=0)
    _append(db, 0, rng, 120)
    db.flush()
    _append(db, 0, rng, 30)
    st = db.get_stream(0)
    st.meta.n += 7  # the registry now disagrees with the stream's events
    with pytest.raises(Exception, match="was not enumerated"):
        db.flush()



def test_warm_flush_and_query_read_the_summary_store_with_its_schema(spark, tmp_path):
    """The summary store's schema is fixed (``SUMMARY_SCHEMA``), so the
    carry-over read of a warm flush and the pruned scan of
    ``Stream.query`` pass it instead of running a one-task
    schema-inference job each.  On a 6-stream DB (ExpWindowing(2) and
    PowerWindowing(1,1,1,1), summary ops only) the pair runs 4 Spark
    jobs, counted through a job group, where inferred schemas made it 6;
    a full-range sum is still exact."""
    rng = np.random.default_rng(5)
    db = SummaryDB(spark, str(tmp_path / "db"))
    for sid in range(6):
        db.new_stream(
            windowing=ExpWindowing(2.0) if sid % 2 == 0 else PowerWindowing(1, 1, 1, 1),
            stream_id=sid,
        )
        _append(db, sid, rng, 200)
    db.flush()
    for sid in range(6):
        _append(db, sid, rng, 100)
    st = db.get_stream(3)
    sc = spark.sparkContext
    group = "test-warm-flush-query-jobs"
    sc.setJobGroup(group, "warm flush + Stream.query")
    try:
        db.flush()
        r = st.query("sum", T0, st.meta.last_ts)
    finally:
        sc._jsc.clearJobGroup()
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    want = db.events().where(F.col("stream_id") == 3).agg(
        F.count(F.lit(1)).alias("n"), F.sum("value").alias("s")
    ).first()
    assert want["n"] == 300
    assert (r.value, r.error) == (want["s"], 0.0)
    assert 0 < jobs < 6, jobs
