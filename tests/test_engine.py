"""End-to-end engine tests with closed-form oracles, ported from
core/db_test.go (the reference's DB-level test suite)."""

import pytest

from summarydb_spark.engine import QueryParams, SummaryDB
from summarydb_spark.windowing import ExpWindowing, PowerWindowing

PARAMS = QueryParams(confidence=0.95, sd_multiplier=1.0)


# core/db_test.go:11-59 (TestBasicDB)
def test_basic_db(spark, tmp_path):
    db = SummaryDB(spark, str(tmp_path / "db"))
    s = db.new_stream(ops=["count", "sum"], windowing=ExpWindowing(2.0))
    s.append_pairs([(i, float(i)) for i in range(100)])
    db.close()

    db2 = SummaryDB.open(spark, str(tmp_path / "db"))
    s2 = db2.get_stream(s.stream_id)
    r = s2.query("count", 0, 99, PARAMS)
    assert r.value == 100.0 and r.error == 0.0
    r = s2.query("sum", 0, 99, PARAMS)
    assert r.value == 99.0 * 100 / 2 and r.error == 0.0
    wins = db2.summary_windows().where("stream_id = %d" % s.stream_id)
    assert wins.count() == 9


# core/db_test.go:61-115 (TestDBWithLambda — landmarks)
def test_db_with_landmark(spark, tmp_path):
    db = SummaryDB(spark, str(tmp_path / "db"))
    s = db.new_stream(ops=["count", "sum"], windowing=ExpWindowing(2.0))
    s.append_pairs([(i, float(i)) for i in range(90)])
    s.start_landmark(90)
    s.append_pairs([(i, float(i)) for i in range(90, 100)])
    s.end_landmark(99)
    db.close()

    db2 = SummaryDB.open(spark, str(tmp_path / "db"))
    s2 = db2.get_stream(s.stream_id)
    r = s2.query("count", 0, 99, PARAMS)
    assert r.value == 100.0 and r.error == 0.0
    r = s2.query("sum", 0, 99, PARAMS)
    assert r.value == 4950.0 and r.error == 0.0
    # 10 decayed windows over the 90 non-landmark elements
    assert db2.summary_windows().where("stream_id = %d" % s.stream_id).count() == 10


# core/db_test.go:120-198 (append after reopen)
def test_append_after_reopen(spark, tmp_path):
    path = str(tmp_path / "db")
    db = SummaryDB(spark, path)
    s = db.new_stream(ops=["count", "sum", "max"], windowing=ExpWindowing(2.0))
    s.append_pairs([(i, float(i)) for i in range(50)])
    db.close()

    db2 = SummaryDB.open(spark, path)
    s2 = db2.get_stream(s.stream_id)
    r = s2.query("count", 0, 49, PARAMS)
    assert r.value == 50.0 and r.error == 0.0
    s2.append_pairs([(i, float(i)) for i in range(50, 100)])
    db2.close()

    db3 = SummaryDB.open(spark, path)
    s3 = db3.get_stream(s.stream_id)
    r = s3.query("count", 0, 99, PARAMS)
    assert r.value == 100.0 and r.error == 0.0
    r = s3.query("sum", 0, 99, PARAMS)
    assert r.value == 4950.0 and r.error == 0.0
    r = s3.query("max", 0, 99, PARAMS)
    assert r.value == 99.0
    assert db3.summary_windows().where("stream_id = %d" % s.stream_id).count() == 9


# core/db_test.go:200-340 (testStub scenarios) — buffered, value = 2*ts.
@pytest.mark.parametrize(
    "windowing,n,expected_windows",
    [
        (ExpWindowing(2.0), 5000, 16),
        (PowerWindowing(1, 1, 10, 1), 5000, 442),
    ],
)
def test_scenarios_buffered(spark, tmp_path, windowing, n, expected_windows):
    db = SummaryDB(spark, str(tmp_path / "db"))
    s = db.new_stream(
        ops=["count", "sum", "max"], windowing=windowing, buffer_size=32
    )
    s.append_pairs([(i, 2.0 * i) for i in range(n)])
    s.flush()

    r = s.query("count", 0, n - 1, PARAMS)
    assert r.value == float(n) and r.error == 0.0
    r = s.query("sum", 0, n - 1, PARAMS)
    assert r.value == float((n - 1) * n) and r.error == 0.0
    r = s.query("max", 0, n - 1, PARAMS)
    assert r.value == 2.0 * (n - 1)
    assert (
        db.summary_windows().where("stream_id = %d" % s.stream_id).count()
        == expected_windows
    )


def test_partial_range_query_bounds(spark, tmp_path):
    """The proration *bounds* are hard (core/sum_estimator.go:107-112): they
    always bracket the exact answer.  (The z-interval CI is statistical and
    can exclude it when value mass is skewed within an edge window.)"""
    db = SummaryDB(spark, str(tmp_path / "db"))
    s = db.new_stream(ops=["count", "sum"], windowing=ExpWindowing(2.0))
    s.append_pairs([(i, float(i)) for i in range(200)])
    s.flush()
    for t0, t1 in [(0, 99), (13, 57), (100, 199), (150, 160), (0, 0), (199, 199)]:
        exact_count = t1 - t0 + 1
        exact_sum = sum(range(t0, t1 + 1))
        r = s.query("count", t0, t1, PARAMS)
        assert r.lower_bound <= exact_count <= r.upper_bound, (t0, t1, r)
        # count mass is uniform in time, so the CI also brackets it
        assert r.lower_ci <= exact_count <= r.upper_ci, (t0, t1, r)
        r = s.query("sum", t0, t1, PARAMS)
        assert r.lower_bound <= exact_sum <= r.upper_bound, (t0, t1, r)


def test_out_of_order_clamp(spark, tmp_path):
    """core/pipeline.go:80-84: out-of-order ts clamps to last+1."""
    db = SummaryDB(spark, str(tmp_path / "db"))
    s = db.new_stream(ops=["count", "sum"], windowing=ExpWindowing(2.0))
    s.append_pairs([(5, 1.0), (3, 1.0), (3, 1.0), (9, 1.0)])
    s.flush()
    ev = db.events().orderBy("seq").collect()
    assert [r["ts"] for r in ev] == [5, 6, 7, 9]


def test_bulk_landmark_never_touches_driver(spark, tmp_path, monkeypatch):
    """A landmark bracket holds raw points of arbitrary span (the reference
    buffers them in core/landmark_window.go); at scale they must stage
    through parquet, never through a driver-side list.  1M points flow
    through append() -> end_landmark() with every driver-materialization
    entry point disabled."""
    from pyspark.sql import functions as F

    db = SummaryDB(spark, str(tmp_path / "db"))
    s = db.new_stream(ops=["count", "sum"], windowing=ExpWindowing(2.0))
    s.append_pairs([(i, float(i)) for i in range(10)])
    s.start_landmark(10)

    n = 1_000_000
    big = spark.range(n).select(
        (F.col("id") + 10).alias("ts"), F.lit(1.0).alias("value")
    )
    import pyspark.sql.classic.dataframe as cdf

    with monkeypatch.context() as mp:
        for meth in ("collect", "toPandas", "toLocalIterator"):
            mp.setattr(
                cdf.DataFrame,
                meth,
                lambda self, *a, **k: (_ for _ in ()).throw(
                    AssertionError("driver materialization in landmark path")
                ),
            )
        s.append(big)
        s.end_landmark(n + 11)

    # the staged points landed in the landmark table, window stamped
    lm = db.landmarks_df().where("stream_id = %d" % s.stream_id)
    assert lm.where("ts IS NOT NULL").count() == n
    assert lm.select("time_start").distinct().collect()[0][0] == 10

    # and the batched column-math query path sees the landmark mass exactly
    s.flush()
    row = s.query_many("count", [(0, n + 11)]).collect()[0]
    assert row["value"] == 10 + n


# VERDICT r3 fix: single-query landmark scan must push time predicates
# into the parquet scan instead of collecting the stream's full landmark
# history to the driver (engine.py::prune_landmark_scan).
def _landmark_fixture(spark, tmp_path):
    db = SummaryDB(spark, str(tmp_path / "db"))
    s = db.new_stream(ops=["count", "sum", "max"], windowing=ExpWindowing(2.0))
    s.append_pairs([(i, float(i)) for i in range(50)])
    s.start_landmark(50)
    s.append_pairs([(i, float(i)) for i in range(50, 60)])
    s.end_landmark(59)
    s.append_pairs([(i, float(i)) for i in range(60, 80)])
    s.start_landmark(80)
    s.append_pairs([(i, float(i)) for i in range(80, 90)])
    s.end_landmark(89)
    s.append_pairs([(i, float(i)) for i in range(90, 100)])
    s.flush()
    return db, s


def test_landmark_scan_pushes_time_filters(spark, tmp_path):
    import contextlib
    import io

    from pyspark.sql import functions as F

    from summarydb_spark.engine import prune_landmark_scan

    db, s = _landmark_fixture(spark, tmp_path)
    lraw = db.landmarks_df().where(F.col("stream_id") == s.stream_id)
    pruned = prune_landmark_scan(lraw, 55, 85)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        pruned.explain(mode="formatted")
    plan = buf.getvalue()
    pushed = [ln for ln in plan.splitlines() if "PushedFilters:" in ln]
    assert pushed, plan
    assert any("time_end" in ln for ln in pushed), plan
    assert any("time_start" in ln for ln in pushed), plan
    # only in-range points reach the driver
    rows = pruned.collect()
    assert rows
    assert all(r["ts"] is None or 55 <= r["ts"] <= 85 for r in rows)


def test_landmark_pruned_query_matches_unpruned(spark, tmp_path, monkeypatch):
    """The pushed-down scan must select exactly the windows/points the old
    full-collect path fed to select_landmark_windows — across gap edges,
    ranges before/after all landmarks, and ranges inside a landmark."""
    import summarydb_spark.engine as eng

    db, s = _landmark_fixture(spark, tmp_path)
    ranges = [
        (0, 99), (55, 85), (0, 49), (90, 99), (52, 57), (60, 79),
        (45, 62), (85, 95), (0, 10), (95, 99), (59, 80), (50, 89),
    ]
    got = [
        (s.query(op, t0, t1, PARAMS).value, s.query(op, t0, t1, PARAMS).error)
        for op in ("count", "sum", "max")
        for (t0, t1) in ranges
    ]
    with monkeypatch.context() as mp:
        mp.setattr(eng, "landmark_selection_lazy", lambda lraw, t0, t1: lraw)
        want = [
            (s.query(op, t0, t1, PARAMS).value, s.query(op, t0, t1, PARAMS).error)
            for op in ("count", "sum", "max")
            for (t0, t1) in ranges
        ]
    assert got == want


def test_lazy_landmark_selection_equals_two_job_pruning(spark, tmp_path):
    """landmark_selection_lazy (bracket computed in-plan, ONE action)
    must select exactly the same rows as prune_landmark_scan (bracket as
    a separate driver aggregate + literal-pushdown fetch)."""
    from pyspark.sql import functions as F

    from summarydb_spark.engine import (
        landmark_selection_lazy,
        prune_landmark_scan,
    )

    db, s = _landmark_fixture(spark, tmp_path)
    lraw = db.landmarks_df().where(F.col("stream_id") == s.stream_id)
    def canon(rows):  # ts/value are NULL on bracket-only rows
        return sorted(
            (tuple((x is None, x) for x in r) for r in map(tuple, rows))
        )

    for t0, t1 in [(0, 99), (55, 85), (0, 10), (95, 99), (52, 57), (45, 62)]:
        two_job = prune_landmark_scan(lraw, t0, t1)
        want = canon(two_job.collect()) if two_job is not None else []
        got = canon(landmark_selection_lazy(lraw, t0, t1).collect())
        assert got == want, (t0, t1)


def test_single_query_issues_one_action(spark, tmp_path, monkeypatch):
    """Stream.query on a flushed stream with landmarks = exactly ONE
    collect action: summary fetch and landmark fetch (bracket scalars
    in-plan) union into a single job — one driver round trip, like the
    reference's single blocking call."""
    db, s = _landmark_fixture(spark, tmp_path)
    s.query("count", 0, 99, PARAMS)  # ensure clean/warm state
    # patch the CONCRETE DataFrame class (Spark 4: classic vs the
    # pyspark.sql.DataFrame facade, whose collect is overridden)
    DataFrame = type(spark.range(1))
    calls = []
    orig = DataFrame.collect

    def counting(self):
        calls.append(1)
        return orig(self)

    monkeypatch.setattr(DataFrame, "collect", counting)
    r = s.query("sum", 45, 85, PARAMS)
    assert r.value > 0
    assert len(calls) == 1, f"expected 1 collect action, saw {len(calls)}"
