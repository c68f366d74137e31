"""The closed-loop workloads and the probes of traced runs.  Each has
one client: this thread, which waits for every call before making the
next.

A workload is driven in phases: ``setup()``, ``warmup()``,
``timed(seconds)`` (twice in a traced run) and ``finish()`` (answer checks
that need Spark jobs of their own, outside any timing).  A probe is driven
the same way, once, after a traced run's workload: it measures a layer the
two workloads do not reach (the streaming fold, the query register)
without adding to every untraced run.  Calls go through ``Ledger.call``,
which times them, wraps each in a span named after the library layer it
enters, and counts attempts and failures.
"""

from __future__ import annotations

import os
import statistics
import time
from collections import defaultdict

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from perfbench import checks
from perfbench.gen import (
    T_BASE,
    StreamTruth,
    event_block,
    query_ranges,
    write_tables,
)
from summarydb_spark import ExpWindowing, PowerWindowing, canonical_boundaries
from summarydb_spark.engine import DEFAULT_OPS, SummaryDB

SKETCH_STREAM_OPS = DEFAULT_OPS + ("bloom", "cms", "hll", "kll")


class Ledger:
    """Wall and CPU seconds per call kind, plus attempted and failed
    operations."""

    def __init__(self, tracer, cpu) -> None:
        self.tracer = tracer
        self.cpu_s = cpu  # CpuMeter
        self.walls: dict[str, list[float]] = defaultdict(list)
        self.cpu: dict[str, list[float]] = defaultdict(list)
        self.work: dict[str, float] = defaultdict(float)
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.record = True

    def call(self, kind: str, layer: str, fn, work: float = 0.0, **attrs):
        """Run one blocking call; an exception is a failed operation."""
        self.attempted += 1
        try:
            with self.tracer.span(layer, kind=kind, **attrs):
                c0, t0 = self.cpu_s(), time.perf_counter()
                out = fn()
                wall = time.perf_counter() - t0
                cpu = self.cpu_s() - c0
        except Exception as exc:  # a failed call is counted, the run goes on
            self.fail(f"{kind}: {type(exc).__name__}: {str(exc)[:300]}")
            return None
        if self.record:
            self.walls[kind].append(wall)
            self.cpu[kind].append(cpu)
            self.work[kind] += work
        return out

    def verify(self, problems: list[str]) -> None:
        if problems:
            self.fail("; ".join(problems[:3]))

    def check(self, fn) -> None:
        """An answer check that needs Spark work of its own."""
        self.attempted += 1
        try:
            self.verify(fn())
        except Exception as exc:  # counted like any failed operation
            self.fail(f"check: {type(exc).__name__}: {str(exc)[:300]}")

    def fail(self, msg: str) -> None:
        self.failed += 1
        self.problems.append(msg)

    def p50_ms(self, kind: str) -> float:
        return 1e3 * statistics.median(self.walls[kind])

    def cpu_mean_ms(self, kind: str) -> float:
        """CPU ms per call, the mean: each reading is a difference of
        10 ms kernel ticks, and the mean averages that rounding away."""
        return 1e3 * statistics.fmean(self.cpu[kind])

    def per_cpu_s(self, kind: str) -> float:
        """Work done per CPU second of calls of ``kind``."""
        return self.work[kind] / sum(self.cpu[kind])

    def p95_ms(self, kind: str) -> float:
        w = sorted(self.walls[kind])
        return 1e3 * w[min(len(w) - 1, int(0.95 * len(w)))]

    def rate(self, kind: str) -> float:
        return self.work[kind] / sum(self.walls[kind])

    def reset(self) -> None:
        self.walls.clear()
        self.cpu.clear()
        self.work.clear()


class Workload:
    name = ""
    # sizes at full scale and at the self-test's tiny scale
    SIZES: dict = {}

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.spark = ctx.spark
        self.ops: Ledger = ctx.ledger
        self.size = {k: v[1 if ctx.tiny else 0] for k, v in self.SIZES.items()}

    def rng(self, purpose: int) -> np.random.Generator:
        return np.random.default_rng([self.ctx.seed, purpose])

    def units(self, seconds: float, min_units: int = 1):
        """Unit indices for one timed pass: a new unit starts only while
        it is expected to end inside the window (so every unit runs
        whole), or exactly ``ctx.fixed_units`` of them."""
        if self.ctx.fixed_units:
            yield from range(self.ctx.fixed_units)
            return
        start = time.perf_counter()
        last = 0.0
        i = 0
        while i < min_units or time.perf_counter() - start + last <= seconds:
            t = time.perf_counter()
            yield i
            last = time.perf_counter() - t
            i += 1

    def frame(self, ts: np.ndarray, vals: np.ndarray):
        return self.spark.createDataFrame(pd.DataFrame({"ts": ts, "value": vals}))

    # subclasses: setup(), warmup(), timed(seconds), finish(), layers();
    # workloads also timings() (the CPU and wall figures of the timed
    # pass) and end_to_end()

    def traced_only(self) -> None:
        """Calls too slow for every run, made once after a traced pass."""

    def quality(self, db: SummaryDB, truths: dict) -> dict:
        """The end-to-end figures, read outside any timing: the share of a
        fixed, seeded batch of count and sum answers whose exact value
        lies in the 95% interval, and the store's bytes per event held."""
        rng = self.rng(3)
        sids = sorted(truths)
        covered: list[bool] = []
        for op in ("count", "sum"):
            triples = []
            for sid in rng.choice(sids, self.size["quality_ranges"]):
                (t0, t1), = query_ranges(rng, truths[int(sid)], 1)
                triples.append((int(sid), t0, t1))
            rows = self.ops.call(
                "quality", "engine.query_many",
                lambda op=op, triples=triples: db.query_many(op, triples).collect(),
            )
            if rows is None:
                continue
            problems = [] if len(rows) == len(triples) else ["quality rows"]
            for row in rows:
                sid, t0, t1 = triples[row["qid"]]
                problems += checks.agg_answer(op, row, truths[sid], t0, t1, covered)
            self.ops.verify(problems)
        sb = store_bytes(db.path)
        held = sb["raw"] + sb["summary"] + sb["sketch"] + sb["other"]
        return {
            "ci_coverage": sum(covered) / max(1, len(covered)),
            "store_bytes_per_event": held / sum(t.n for t in truths.values()),
        }


def store_bytes(path: str) -> dict:
    """Bytes and files of a SummaryDB directory by part: raw event and
    landmark segments, summary and sketch store versions."""
    out = dict.fromkeys(("raw", "summary", "sketch", "other"), 0)
    files = 0
    for root, _dirs, names in os.walk(path):
        rel = os.path.relpath(root, path).split(os.sep)[0]
        if rel in ("events", "landmarks"):
            part = "raw"
        elif rel.startswith("summary-"):
            part = "summary"
        elif rel.startswith("sketches-"):
            part = "sketch"
        else:
            part = "other"
        for n in names:
            if n.startswith(".") or n == "_SUCCESS":
                continue
            out[part] += os.path.getsize(os.path.join(root, n))
            files += 1
    out["files"] = files
    return out


def canonical_windows(policy, n: int) -> int:
    """Windows a stream of n decayed events holds: the boundary list
    carries both ends, so it is one longer than the window count."""
    return len(canonical_boundaries(policy, n)) - 1


def window_counts(df) -> dict:
    return {r["stream_id"]: r["count"] for r in df.groupBy("stream_id").count().collect()}


def rebuild_timings(db: SummaryDB, windowing, sketch_sids, sketch_ops):
    """Seconds per million events of the summary rebuild and the sketch
    build over the DB's events, each run to a noop sink."""
    from summarydb_spark.operators.sketch_windows import build_sketch_windows
    from summarydb_spark.operators.summary import bucketed_events, summarize_bucketed

    ev = db.events()
    n = ev.count()
    bucketed = bucketed_events(ev, windowing, order_cols=("seq",))
    t = time.perf_counter()
    summarize_bucketed(bucketed).write.format("noop").mode("overwrite").save()
    rebuild = time.perf_counter() - t
    sk = bucketed.where(F.col("stream_id").isin(list(sketch_sids)))
    n_sk = db.events().where(F.col("stream_id").isin(list(sketch_sids))).count()
    t = time.perf_counter()
    build_sketch_windows(sk, set(sketch_ops)).write.format("noop").mode(
        "overwrite"
    ).save()
    sketch = time.perf_counter() - t
    return rebuild / (n / 1e6), sketch / (max(1, n_sk) / 1e6)


def estimator_us(db: SummaryDB, samples) -> float:
    """Re-time the driver-side estimator (``query_op``) on the windows
    each sampled ``Stream.query`` fetched."""
    from summarydb_spark.operators.estimator import (
        SummaryWindowRow,
        query_op,
        select_summary_windows,
    )

    rows = defaultdict(list)
    sids = sorted({s for s, _op, _t0, _t1 in samples})
    for r in (
        db.summary_windows().where(F.col("stream_id").isin(sids)).collect()
    ):
        rows[r["stream_id"]].append(
            SummaryWindowRow(
                r["time_start"], r["time_end"], float(r["count"]), r["sum"],
                r["max"], r["min"],
            )
        )
    fetched = []
    for sid, op, t0, t1 in samples:
        ws = sorted(
            (w for w in rows[sid] if w.time_end >= t0 and w.time_start <= t1),
            key=lambda w: w.time_start,
        )
        fetched.append((op, ws, t0, t1))
    reps = 20
    t = time.perf_counter()
    for _ in range(reps):
        for op, ws, t0, t1 in fetched:
            query_op(op, select_summary_windows(ws, t0, t1), [], t0, t1)
    return 1e6 * (time.perf_counter() - t) / (reps * len(fetched))


# ---------------------------------------------------------------------------


class LongHistory(Workload):
    """Writes beside reads on a long history: append_pairs ingest that
    spills several times, then cycles of small append + flush + queries.
    Stream 1 takes every write, so each timed flush re-buckets one
    history; stream 0 stays clean and is only queried."""

    name = "long_history"
    WRITE_SID = 1
    SIZES = {
        "streams": (2, 2),
        "history": (100_000, 4_000),
        # ingest rows as a multiple of SummaryDB.PENDING_SPILL_ROWS
        "ingest_spills": (2.5, 1.2),
        "chunk": (5_000, 5_000),
        "cycle_rows": (1_000, 200),
        "queries_per_cycle": (3, 3),
        "quality_ranges": (400, 20),
    }

    def setup(self) -> None:
        path = os.path.join(self.ctx.rundir, "long_history")
        rng = self.rng(1)
        db = SummaryDB(self.spark, path)
        truths = []
        for sid in range(self.size["streams"]):
            st = db.new_stream(windowing=ExpWindowing(2.0), stream_id=sid)
            ts, vals = event_block(rng, self.size["history"], T_BASE, disorder=0.01)
            self.ops.call(
                "append", "engine.append", lambda st=st, ts=ts, vals=vals:
                st.append(self.frame(ts, vals))
            )
            truth = StreamTruth()
            truth.add_sorted_batch(ts, vals)
            truths.append(truth)
        self.ops.call("flush_setup", "engine.flush", db.flush)
        self.db, self.truths = db, truths
        self.rng_data = self.rng(2)
        self.samples: list = []

    def _pairs(self, sid: int, n: int):
        ts, vals = event_block(
            self.rng_data, n, self.truths[sid].last + 1, disorder=0.01
        )
        return ts, vals, list(zip(ts.tolist(), vals.tolist()))

    def _append(self, kind: str, sid: int, n: int) -> None:
        ts, vals, pairs = self._pairs(sid, n)
        st = self.db.get_stream(sid)
        out = self.ops.call(
            kind, "engine.append_pairs", lambda: st.append_pairs(pairs) or True,
            work=n, rows=n,
        )
        if out is not None:
            self.truths[sid].add_pairs(ts, vals)

    def _queries(self, cycle: int) -> None:
        for q in range(self.size["queries_per_cycle"]):
            op = ("count", "sum", "max")[(cycle + q) % 3]
            sid = (cycle + q) % self.size["streams"]
            (t0, t1), = query_ranges(self.rng_data, self.truths[sid], 1)
            st = self.db.get_stream(sid)
            res = self.ops.call(
                "query", "engine.query", lambda: st.query(op, t0, t1)
            )
            if res is not None:
                self.samples.append((sid, op, t0, t1))
                self.ops.verify(
                    checks.agg_answer(
                        op, checks.as_dict(res), self.truths[sid], t0, t1
                    )
                )

    def _cycle(self, cycle: int) -> None:
        self._append("append_small", self.WRITE_SID, self.size["cycle_rows"])
        self.ops.call("flush", "engine.flush", self.db.flush)
        self._queries(cycle)

    def warmup(self) -> None:
        self._cycle(0)

    def timed(self, seconds: float) -> None:
        """A fixed-size ingest phase and its flush, then cycles for
        ``seconds``."""
        total = int(self.size["ingest_spills"] * SummaryDB.PENDING_SPILL_ROWS)
        chunk = self.size["chunk"]
        for _ in range(total // chunk):
            self._append("append_pairs", self.WRITE_SID, chunk)
        self.ops.call("flush_ingest", "engine.flush", self.db.flush)
        for cycle in self.units(seconds):
            self._cycle(cycle)

    def finish(self) -> None:
        def windows():
            got = window_counts(self.db.summary_windows())
            bad = []
            for sid, truth in enumerate(self.truths):
                want = canonical_windows(ExpWindowing(2.0), truth.n)
                bad += checks.window_count(sid, got.get(sid, 0), want)
            return bad

        self.ops.check(windows)

    def timings(self) -> dict:
        return {
            "flush.cpu_ms_per_call": self.ops.cpu_mean_ms("flush"),
            "flush.wall_p50_ms": self.ops.p50_ms("flush"),
            "query.cpu_ms_per_call": self.ops.cpu_mean_ms("query"),
            "query.wall_p50_ms": self.ops.p50_ms("query"),
            "query.wall_p95_ms": self.ops.p95_ms("query"),
            "append_pairs.rows_per_cpu_s": self.ops.per_cpu_s("append_pairs"),
            "append_pairs.rows_per_s": self.ops.rate("append_pairs"),
        }

    def end_to_end(self) -> dict:
        return self.quality(self.db, dict(enumerate(self.truths)))

    def layers(self) -> dict:
        rebuild, sketch = rebuild_timings(
            self.db, ExpWindowing(2.0), [0], ("bloom", "cms")
        )
        return {
            "summary.rebuild_s_per_mevent": rebuild,
            "sketch.build_s_per_mevent": sketch,
            "estimator.us_per_query": estimator_us(self.db, self.samples[-30:]),
            **_store_layers(store_bytes(self.db.path)),
        }


def _store_layers(sb: dict) -> dict:
    return {
        "store.files": sb["files"],
        "store.raw_bytes": sb["raw"],
        "store.summary_bytes": sb["summary"],
        "store.sketch_bytes": sb["sketch"],
    }


# ---------------------------------------------------------------------------


class ManyStreamsRead(Workload):
    """Read-only over a wide store: Stream.query, query_many batches,
    query_many_sketch and the dsum/dmax SQL surface."""

    name = "many_streams_read"
    SIZES = {
        "streams": (24, 8),
        "events": (400, 200),
        "batch_ranges": (100, 20),
        "sketch_requests": (20, 8),
        "queries_per_round": (4, 4),
        "dsum_per_round": (2, 2),
        "quality_ranges": (400, 20),
    }

    def _policy(self, sid: int):
        return ExpWindowing(2.0) if sid % 2 == 0 else PowerWindowing(1, 1, 1, 1)

    def setup(self) -> None:
        path = os.path.join(self.ctx.rundir, "many_streams_read")
        rng = self.rng(1)
        db = SummaryDB(self.spark, path)
        self.truths: dict[int, StreamTruth] = {}
        self.sketch_sids = []
        n = self.size["events"]
        # every stream first: new_stream commits, and a commit writes out
        # whatever append_pairs has buffered
        for sid in range(self.size["streams"]):
            sketch = sid % 4 < 2
            db.new_stream(
                ops=SKETCH_STREAM_OPS if sketch else DEFAULT_OPS,
                windowing=self._policy(sid),
                stream_id=sid,
            )
            if sketch:
                self.sketch_sids.append(sid)
        for sid in range(self.size["streams"]):
            st = db.get_stream(sid)
            truth = StreamTruth()
            ts, vals = event_block(rng, n, T_BASE + sid * 7, disorder=0.01)
            self.ops.call(
                "append_setup", "engine.append_pairs",
                lambda st=st, p=list(zip(ts.tolist(), vals.tolist())):
                st.append_pairs(p),
            )
            truth.add_pairs(ts, vals)
            self.truths[sid] = truth
        self.ops.call("flush_setup", "engine.flush", db.flush)
        self.ops.call("register_sql", "plans.sql_surface.register", db.register_sql)
        self.db = db
        self.rng_q = self.rng(2)
        self.last_sum: dict = {}
        self.samples: list = []

    def _triples(self, k: int) -> list:
        sids = self.rng_q.integers(0, self.size["streams"], k)
        out = []
        for sid in sids:
            (t0, t1), = query_ranges(self.rng_q, self.truths[int(sid)], 1)
            out.append((int(sid), t0, t1))
        return out

    def _round(self, r: int) -> None:
        for q in range(self.size["queries_per_round"]):
            op = ("count", "sum", "max", "min")[q % 4]
            ((sid, t0, t1),) = self._triples(1)
            st = self.db.get_stream(sid)
            res = self.ops.call("query", "engine.query", lambda: st.query(op, t0, t1))
            if res is not None:
                self.samples.append((sid, op, t0, t1))
                self.ops.verify(
                    checks.agg_answer(
                        op, checks.as_dict(res), self.truths[sid], t0, t1
                    )
                )
        op = ("sum", "count")[r % 2]
        triples = self._triples(self.size["batch_ranges"])
        rows = self.ops.call(
            "query_many", "engine.query_many",
            lambda: self.ctx.collect(self.db.query_many(op, triples)),
            work=len(triples),
        )
        if rows is not None:
            problems = [] if len(rows) == len(triples) else ["query_many rows"]
            for row in rows:
                sid, t0, t1 = triples[row["qid"]]
                problems += checks.agg_answer(op, row, self.truths[sid], t0, t1)
                if op == "sum":
                    self.last_sum[(sid, t0, t1)] = float(row["value"])
            self.ops.verify(problems)
        for _ in range(self.size["dsum_per_round"]):
            self._sql("dsum")
        self._sql("dmax")

    def _sketch(self) -> None:
        reqs, meta = [], []
        ops = ("membership", "frequency", "distinct", "quantile")
        for j in range(self.size["sketch_requests"]):
            op = ops[j % 4]
            sid = int(self.rng_q.choice(self.sketch_sids))
            truth = self.truths[sid]
            (t0, t1), = query_ranges(self.rng_q, truth, 1)
            vals = truth.select(t0, t1)
            if op in ("membership", "frequency"):
                arg = float(vals[int(self.rng_q.integers(0, len(vals)))])
            elif op == "quantile":
                arg = (0.5, 0.9)[j % 2]
            else:
                arg = None
            reqs.append((sid, op, t0, t1) if arg is None else (sid, op, t0, t1, arg))
            meta.append(arg)
        rows = self.ops.call(
            "sketch", "engine.query_many_sketch",
            lambda: self.ctx.collect(self.db.query_many_sketch(reqs)),
            work=len(reqs),
        )
        if rows is not None:
            problems = [] if len(rows) == len(reqs) else ["sketch rows"]
            for row in rows:
                d = row.asDict()
                d["arg"] = meta[d["qid"]]
                problems += checks.sketch_answer(d, self.truths[d["stream_id"]])
            self.ops.verify(problems)

    def _sql(self, fn: str) -> None:
        """``dsum`` on a range the last sum batch answered (every round
        starts from one), or ``dmax`` on a fresh range."""
        if fn == "dsum":
            keys = sorted(self.last_sum)
            sid, t0, t1 = keys[int(self.rng_q.integers(0, len(keys)))]
            text = f"SELECT * FROM dsum({sid}, {t0}, {t1}, 0.95)"
        else:
            ((sid, t0, t1),) = self._triples(1)
            text = f"SELECT * FROM dmax({sid}, {t0}, {t1})"
        rows = self.ops.call(
            "sql" if fn == "dsum" else "sql_dmax", "plans.sql_surface",
            lambda: self.ctx.collect(self.spark.sql(text)), sql_fn=fn,
        )
        if rows is None:
            return
        if len(rows) != 1:
            self.ops.fail(f"{fn}: {len(rows)} rows")
        elif fn == "dsum":
            want = self.last_sum[(sid, t0, t1)]
            if not checks.close(float(rows[0]["value"]), want):
                self.ops.fail(f"dsum {rows[0]['value']} != query_many {want}")
        else:
            self.ops.verify(
                checks.agg_answer("max", rows[0], self.truths[sid], t0, t1)
            )

    def warmup(self) -> None:
        self._round(0)

    def timed(self, seconds: float) -> None:
        for r in self.units(seconds):
            self._round(r)

    def traced_only(self) -> None:
        # 6-8 s a call, so measured per layer in traced runs only
        for _ in range(2):
            self._sketch()

    def finish(self) -> None:
        def windows():
            got = window_counts(self.db.summary_windows())
            bad = []
            for sid in range(self.size["streams"]):
                want = canonical_windows(self._policy(sid), self.truths[sid].n)
                bad += checks.window_count(sid, got.get(sid, 0), want)
            return bad

        self.ops.check(windows)

    def timings(self) -> dict:
        return {
            "query.cpu_ms_per_call": self.ops.cpu_mean_ms("query"),
            "query.wall_p50_ms": self.ops.p50_ms("query"),
            "query.wall_p95_ms": self.ops.p95_ms("query"),
            "query_many.ranges_per_cpu_s": self.ops.per_cpu_s("query_many"),
            "query_many.ranges_per_s": self.ops.rate("query_many"),
            "dsum.cpu_ms_per_call": self.ops.cpu_mean_ms("sql"),
            "dsum.wall_p50_ms": self.ops.p50_ms("sql"),
        }

    def end_to_end(self) -> dict:
        return self.quality(self.db, self.truths)

    def layers(self) -> dict:
        return {
            "query_many_sketch.requests_per_s": self.ops.rate("sketch"),
            "estimator.us_per_query": estimator_us(
                self.db, self.samples[-30:]
            ),
            **_store_layers(store_bytes(self.db.path)),
        }


# ---------------------------------------------------------------------------


class StreamingFold(Workload):
    """The same summarization, run incrementally: consecutive
    StreamingSummarizer.process_batch micro-batches, and every few
    batches a query_many over the streaming snapshot."""

    name = "streaming_fold"
    SIZES = {
        "streams": (24, 6),
        "batch_rows": (20_000, 1_000),
        "query_every": (4, 2),
        "batch_ranges": (60, 12),
        "sampled_streams": (2, 2),
    }
    def setup(self) -> None:
        from summarydb_spark.streaming.ingest import StreamingSummarizer

        self.state_dir = os.path.join(self.ctx.rundir, "streaming_fold")
        self.rng_data = self.rng(1)
        self.truths = {s: StreamTruth() for s in range(self.size["streams"])}
        self.gen_last: dict[int, int] = {}
        # no sketch ops: with them one fold takes ~10x longer (its generated
        # code passes the 64 KB method limit and runs interpreted)
        self.summarizer = StreamingSummarizer(
            self.spark, ExpWindowing(2.0), self.state_dir
        )
        self.next_batch = 0
        self.pending = self._batch()
        self._fold("fold_setup")
        self.rng_q = self.rng(2)

    def _batch(self):
        """One micro-batch: rows spread over the streams, each stream's
        timestamps continuing strictly after its previous batch."""
        rng = self.rng_data
        sids = np.sort(rng.integers(0, self.size["streams"], self.size["batch_rows"]))
        parts = []
        for sid in map(int, np.unique(sids)):
            k = int(np.count_nonzero(sids == sid))
            ts, vals = event_block(rng, k, self.gen_last.get(sid, T_BASE))
            self.gen_last[sid] = int(ts[-1])
            parts.append((sid, ts, vals))
        pdf = pd.DataFrame(
            {
                "stream_id": np.concatenate(
                    [np.full(len(ts), sid, dtype=np.int64) for sid, ts, _v in parts]
                ),
                "ts": np.concatenate([ts for _s, ts, _v in parts]),
                "value": np.concatenate([v for _s, _t, v in parts]),
            }
        )
        return self.spark.createDataFrame(pdf), parts

    def _fold(self, kind: str) -> None:
        df, parts = self.pending
        b = self.next_batch
        n = sum(len(ts) for _s, ts, _v in parts)
        out = self.ops.call(
            kind, "streaming.fold",
            lambda: self.summarizer.process_batch(df, b) or True, work=n, batch=b,
        )
        if out is not None:
            for sid, ts, vals in parts:
                self.truths[sid].add_pairs(ts, vals)
        self.next_batch += 1
        self.pending = self._batch()

    def _snapshot_query(self, r: int) -> None:
        op = ("count", "sum")[r % 2]
        triples = []
        for _ in range(self.size["batch_ranges"]):
            sid = int(self.rng_q.integers(0, self.size["streams"]))
            (t0, t1), = query_ranges(self.rng_q, self.truths[sid], 1)
            triples.append((sid, t0, t1))
        rows = self.ops.call(
            "snapshot_query", "streaming.query_many",
            lambda: self.ctx.collect(self.summarizer.query_many(op, triples)),
            work=len(triples),
        )
        if rows is not None:
            problems = [] if len(rows) == len(triples) else ["snapshot rows"]
            for row in rows:
                sid, t0, t1 = triples[row["qid"]]
                problems += checks.agg_answer(op, row, self.truths[sid], t0, t1)
            self.ops.verify(problems)

    def _unit(self, u: int) -> None:
        self._fold("fold")
        if (u + 1) % self.size["query_every"] == 0:
            self._snapshot_query(u // self.size["query_every"])

    def warmup(self) -> None:
        self._fold("fold_warmup")
        self._snapshot_query(0)

    def timed(self, seconds: float) -> None:
        for u in self.units(seconds, self.size["query_every"]):
            self._unit(u)

    def finish(self) -> None:
        def windows():
            got = window_counts(self.summarizer.summary())
            bad = []
            for sid, truth in self.truths.items():
                want = canonical_windows(ExpWindowing(2.0), truth.n)
                bad += checks.window_count(sid, got.get(sid, 0), want)
            return bad

        self.ops.check(windows)
        self.ops.check(self._fold_equals_flush)

    def _fold_equals_flush(self) -> list[str]:
        """On sampled streams, the streaming fold equals the batch flush
        of the same events."""
        cols = ["stream_id", "time_start", "time_end", "count", "sum", "max", "min"]
        sample = sorted(
            int(s) for s in self.rng(3).choice(
                self.size["streams"], self.size["sampled_streams"], replace=False
            )
        )
        db = SummaryDB(self.spark, os.path.join(self.ctx.rundir, "fold_check"))
        for sid in sample:
            st = db.new_stream(windowing=ExpWindowing(2.0), stream_id=sid)
            t = self.truths[sid]
            st.append(self.frame(t.ts, t.vals))
        db.flush()
        key = ["stream_id", "time_start"]
        batch = (
            db.summary_windows().where(F.col("stream_id").isin(sample))
            .select(*cols).toPandas().sort_values(key, ignore_index=True)
        )
        fold = (
            self.summarizer.summary().where(F.col("stream_id").isin(sample))
            .select(*cols).toPandas().sort_values(key, ignore_index=True)
        )
        return checks.same_frame("fold vs flush", fold, batch)

    def layers(self) -> dict:
        from summarydb_spark.streaming.ingest import latest_version

        head = os.path.join(
            self.state_dir, f"v={latest_version(self.state_dir)}"
        )
        state_bytes = sum(
            os.path.getsize(os.path.join(r, n))
            for r, _d, names in os.walk(head)
            for n in names
            if not n.startswith(".")
        )
        events = sum(t.n for t in self.truths.values())
        return {
            "fold.rows_per_s": self.ops.rate("fold"),
            "fold.p50_ms": self.ops.p50_ms("fold"),
            "fold.state_rows": self.summarizer.summary().count(),
            "fold.state_bytes": state_bytes,
            "fold.state_bytes_per_event": state_bytes / max(1, events),
        }


# ---------------------------------------------------------------------------


class Register(Workload):
    """One pass over a fixed, named slice of the query register, each
    query inside transient_cache_scope(), answers checked against the
    DuckDB oracle on the same generated tables."""

    name = "register"
    SIZES = {"main_scale": (1.0, 0.1), "warm_scale": (0.1, 0.1)}
    # engine SQL over the summary stores first, then relational,
    # window/time-series, data-quality and the global_rank DataFrame path
    SLICE = (
        "decay_summary_exp2",
        "approx_count_range",
        "approx_sum_range",
        "approx_max_range",
        "tpch_q1_like",
        "tpch_q5_like_revenue",
        "rollup_revenue_region_nation",
        "tpch_q13_like_custdist",
        "tumbling_window_daily",
        "cube_events_type_day",
        "dq_column_profile",
        "equidepth_histogram_value",
    )
    ENGINE_SQL = frozenset(SLICE[:4])

    def setup(self) -> None:
        from summarydb_spark.sources.tables import ensure_summary_views, register_tables

        root = os.path.join(self.ctx.rundir, "register")
        self.main_dir = os.path.join(root, "main")
        self.warm_dir = os.path.join(root, "warm")
        write_tables(self.main_dir, self.ctx.seed, self.size["main_scale"])
        write_tables(self.warm_dir, self.ctx.seed + 1, self.size["warm_scale"])
        self.ops.call(
            "register_tables", "sources.tables",
            lambda: register_tables(self.spark, self.main_dir),
        )
        self.ops.call(
            "summary_store", "sources.tables",
            lambda: ensure_summary_views(self.spark, self.main_dir),
        )

    def _oracles(self, sf_dir: str) -> dict:
        import duckdb

        import __spark_entry__ as entry

        sql = entry.oracle_sql()
        con = duckdb.connect()
        for t in entry.TABLES:
            p = os.path.join(sf_dir, f"{t}.parquet")
            if os.path.exists(p):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
        try:
            return {q: con.execute(sql[q]).fetchdf() for q in self.SLICE}
        finally:
            con.close()

    def _pass(self, sf_dir: str, oracle: dict, kind: str) -> None:
        import __spark_entry__ as entry

        from summarydb_spark.operators.cache_scope import transient_cache_scope

        queries = entry.queries()
        for q in self.SLICE:
            def run(q=q):
                with transient_cache_scope():
                    return queries[q](self.spark, sf_dir).toPandas()

            k = f"{kind}_engine_sql" if q in self.ENGINE_SQL else kind
            got = self.ops.call(k, "plans.register", run, work=1, query=q)
            if got is not None:
                self.ops.verify(checks.same_frame(q, got, oracle[q]))

    def warmup(self) -> None:
        self._pass(self.warm_dir, self._oracles(self.warm_dir), "register_warm")
        self.oracle = self._oracles(self.main_dir)

    def timed(self, seconds: float) -> None:
        for _ in self.units(seconds, 1):
            self._pass(self.main_dir, self.oracle, "register")

    def finish(self) -> None:
        pass

    def layers(self) -> dict:
        walls = self.ops.walls["register"] + self.ops.walls["register_engine_sql"]
        return {
            "register.queries_per_s": len(walls) / sum(walls),
            "register.query_p50_ms": 1e3 * statistics.median(walls),
            "register.engine_sql_p50_ms": self.ops.p50_ms("register_engine_sql"),
        }


WORKLOADS = {w.name: w for w in (LongHistory, ManyStreamsRead)}
# the probe each workload's traced run adds
PROBES = {"long_history": StreamingFold, "many_streams_read": Register}
