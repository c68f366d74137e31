"""Per-window sketch state + range-query evaluation for the engine.

The reference *declares* bloom / count-min / frequency operators
(protos/summarydb.capnp:6-13, README.md:27-28) but implements none.  Here
they are engine features: each canonical decay window carries mergeable
sketches next to its count/sum/max/min, and a time-range query merges the
sketches of the overlapping windows — the same query shape as the
estimator (core/max_op.go:39-63) with sketch-merge instead of max-merge.

Window sketches (one row per canonical window):
- ``bloom``: map<long,long> word->bits (functions.sketch.bloom_aggregate)
  over xxhash64 of the value — membership with no false negatives.
- ``hll``:  Spark DataSketches HLL over the value — approx distinct.
- ``kll``:  Spark DataSketches KLL over the value — approx quantiles.

Range queries (evaluated as one tiny Spark job over O(log N) rows):
- membership(member): OR-merge blooms; landmark points overlapping the
  range answer exactly (mirrors max's landmark exactness,
  core/max_op.go:52-58).
- distinct(): hll_union_agg + estimate; rse ~ 1.04/sqrt(2^lgk).
- quantile(q): fold kll_sketch_merge_double; rank error ~ 1.65% at k=200.

Because sketches summarize whole windows they answer over the *covering*
span of the overlapping windows (edge windows cannot be prorated the way
the count/sum estimator prorates, core/sum_estimator.go:34-105); the
returned ``AggResult.error`` carries the sketch's own error figure.
"""

from __future__ import annotations

import math
from typing import Optional, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from summarydb_spark.functions import sketch
from summarydb_spark.operators.estimator import AggResult
from summarydb_spark.operators.summary import SUMMARY_COLS, summary_aggs
from summarydb_spark.session import local_frame

BLOOM_M = 1 << 13
BLOOM_K = 5
HLL_LGK = 12
KLL_K = 200
CMS_DEPTH = 4
CMS_WIDTH = 2048

SKETCH_OPS = ("bloom", "hll", "kll", "cms", "freq")
#: the sketch store's per-window sketch columns ("freq" reads "cms")
SKETCH_COLS = ("hll", "kll", "bloom", "cms")


def build_sketch_windows(
    ev_bucketed: DataFrame, ops, keep_bucket: bool = False
) -> DataFrame:
    """Per-(stream, canonical-window) sketch rows from bucketed events:
    ``stream_id, time_start, time_end, window_id, count`` plus one column
    per op (``freq`` is answered by the ``cms`` state), for every stream.
    ``keep_bucket`` retains the bucket column (the incremental maintenance
    path merges on it).  The sketch-only view of :func:`summarize_windows`.
    """
    out = summarize_windows(ev_bucketed, {o: None for o in ops})
    cols = ["stream_id", "time_start", "time_end", "window_id", "count"]
    cols += [c for c in SKETCH_COLS if c in out.columns]
    return out.select(*cols, *(["bucket"] if keep_bucket else []))


def summarize_windows(ev_bucketed: DataFrame, sketch_streams=None) -> DataFrame:
    """One row per (stream, canonical window) from bucketed events: the
    summary columns (``SUMMARY_COLS``) and the window sketches together.

    ``sketch_streams`` maps a sketch op to the stream ids that declare it
    (None = every stream); a stream's sketch column is NULL where it does
    not declare the op, and its rows skip that op's work.

    Plan: one ``groupBy(stream_id, bucket)`` yields count/sum/max/min,
    the window bounds and the hll/kll sketches.  Bloom words and
    count-min counters come from ONE explode of each row into its k bloom
    positions and d count-min cells, then a two-level aggregate (per
    cell, then per window into the ``bloom``/``cms`` maps) that joins the
    window rows on the (tiny) window key space.
    """
    # sketch column -> declaring stream ids (None: every stream)
    wanted: dict = {}
    for op, sids in (sketch_streams or {}).items():
        op = "cms" if op == "freq" else op
        if op not in SKETCH_COLS:
            continue
        if sids is None or (op in wanted and wanted[op] is None):
            wanted[op] = None
        else:
            wanted[op] = sorted(set(wanted.get(op, [])) | {int(s) for s in sids})

    def gate(op: str):
        sids = wanted[op]
        return None if sids is None else F.col("stream_id").isin(sids)

    def gated(op: str, col):
        g = gate(op)
        return col if g is None else F.when(g, col)

    key = ["stream_id", "bucket"]
    aggs = summary_aggs()
    # the aggregates skip the NULLs an ungated stream feeds them
    if "hll" in wanted:
        aggs.append(
            F.hll_sketch_agg(
                gated("hll", F.col("value").cast("string")), F.lit(HLL_LGK)
            ).alias("hll")
        )
    if "kll" in wanted:
        aggs.append(
            F.kll_sketch_agg_double(gated("kll", F.col("value")), F.lit(KLL_K)).alias(
                "kll"
            )
        )
    maps = [op for op in ("bloom", "cms") if op in wanted]
    if maps:
        # a non-nullable key: the join below would otherwise add an
        # isnotnull(bucket) filter, and predicate pushdown substitutes the
        # whole (large) bucket expression into it
        ev_bucketed = ev_bucketed.withColumn(
            "bucket", F.coalesce(F.col("bucket"), F.lit(-1).cast("long"))
        )
    out = ev_bucketed.groupBy(*key).agg(*aggs).withColumn(
        "window_id", F.col("count_start")
    )
    if maps:
        out = out.join(
            sketch.sketch_maps(
                ev_bucketed,
                key,
                "value",
                bloom=(BLOOM_M, BLOOM_K) if "bloom" in maps else None,
                cms=(CMS_DEPTH, CMS_WIDTH) if "cms" in maps else None,
                gates={op: gate(op) for op in maps},
            ),
            key,
            "left",
        )
    sketch_cols = [gated(op, F.col(op)).alias(op) for op in SKETCH_COLS if op in wanted]
    return out.select(*SUMMARY_COLS, *sketch_cols, "bucket")


_RANGE_KEY = ["stream_id", "qid", "t0", "t1"]


def sketch_range_frame(
    sketches: DataFrame,
    ranges: DataFrame,
    op: str,
    landmark_points: Optional[DataFrame] = None,
    *,
    bloom_m: int = BLOOM_M,
    bloom_k: int = BLOOM_K,
    hll_lgk: int = HLL_LGK,
    cms_depth: int = CMS_DEPTH,
    cms_width: int = CMS_WIDTH,
    q: float = 0.5,
) -> DataFrame:
    """Batched sketch range queries: evaluate ``op`` for every range row in
    ONE Spark job — the sketch analogue of ``operators.query_df``.

    Thin per-op view over :func:`sketch_range_frame_multi` (one overlap
    join + one hash aggregation; probe-pushdown membership/frequency, HLL
    union, sorted KLL fold — see that function for the plan shape).

    ``ranges``: (stream_id, qid, t0, t1[, member]) — ``member`` (double)
    required for membership/frequency.  Returns, per op (all share the
    (stream_id, qid, t0, t1, value, error) core; values have exactly the
    single-query semantics of query_membership / query_frequency /
    query_distinct / query_quantile, including empty-overlap defaults):

    - membership | frequency: core + ``member`` (the probed value)
    - distinct:   core only
    - quantile:   core + ``q`` (the rank literal — mixed-quantile batches
      union per-distinct-q frames; kll_sketch_get_quantile needs a
      foldable rank)

    ``landmark_points`` (stream_id, ts, value), membership only: a landmark
    point equal to the member inside [t0, t1] answers exactly (error 0).
    """
    if op not in ("membership", "frequency", "distinct", "quantile"):
        raise ValueError(f"unknown sketch op: {op}")
    out = sketch_range_frame_multi(
        sketches,
        ranges,
        (op,),
        landmark_points=landmark_points,
        bloom_m=bloom_m,
        bloom_k=bloom_k,
        hll_lgk=hll_lgk,
        cms_depth=cms_depth,
        cms_width=cms_width,
        q=q,
    )
    cols = list(_RANGE_KEY)
    if op in ("membership", "frequency"):
        cols.append("member")
    sel = [F.col(c) for c in cols]
    if op == "quantile":
        sel.append(F.lit(float(q)).alias("q"))
    sel += [
        F.col(f"{op}_value").alias("value"),
        F.col(f"{op}_error").alias("error"),
    ]
    return out.select(*sel)


def _overlap(df: DataFrame, stream_id: int, t0: int, t1: int) -> DataFrame:
    return df.where(
        (F.col("stream_id") == stream_id)
        & (F.col("time_end") >= t0)
        & (F.col("time_start") <= t1)
    )


def query_membership(
    sketches: DataFrame,
    stream_id: int,
    member: float,
    t0: int,
    t1: int,
    landmark_points: Optional[list] = None,
) -> AggResult:
    """Bloom membership over the windows covering [t0, t1].

    Returns AggResult(value=1.0/0.0, error=false-positive probability).
    Landmark points inside the range answer their sub-range exactly.
    """
    if landmark_points:
        for ts, v in landmark_points:
            if t0 <= ts <= t1 and v == member:
                return AggResult(value=1.0, error=0.0)
    rows = (
        _overlap(sketches, stream_id, t0, t1)
        .select("bloom", "count")
        .collect()
    )
    if not rows:
        return AggResult(value=0.0, error=0.0)
    n_items = sum(r["count"] for r in rows)
    # OR-merge the word maps driver-side (O(log N) tiny maps), then one
    # JVM probe so the hash matches the build-side xxhash64 exactly
    merged: dict = {}
    for r in rows:
        for w, bits in (r["bloom"] or {}).items():
            merged[w] = merged.get(w, 0) | bits
    probe = local_frame(
        sketches.sparkSession,
        [(list(merged.keys()), list(merged.values()))],
        "ks array<long>, vs array<long>",
    ).select(F.map_from_arrays("ks", "vs").alias("bloom"))
    hit = probe.select(
        sketch.bloom_contains(
            F.col("bloom"), F.lit(float(member)), m_bits=BLOOM_M, k=BLOOM_K
        ).alias("hit")
    ).first()["hit"]
    fp = (1.0 - math.exp(-BLOOM_K * n_items / BLOOM_M)) ** BLOOM_K
    return AggResult(value=1.0 if hit else 0.0, error=fp if hit else 0.0)


def query_frequency(
    sketches: DataFrame,
    stream_id: int,
    member: float,
    t0: int,
    t1: int,
) -> AggResult:
    """Count-min frequency estimate of ``member`` over the covering
    windows.  Returns AggResult(value=estimate, error=eps*N overcount
    bound) — estimate >= true count always (the CMS guarantee)."""
    rows = _overlap(sketches, stream_id, t0, t1).select("cms", "count").collect()
    if not rows:
        return AggResult(value=0.0, error=0.0)
    n_items = sum(r["count"] for r in rows)
    merged: dict = {}
    for r in rows:
        for k, v in (r["cms"] or {}).items():
            merged[k] = merged.get(k, 0) + v
    # probe JVM-side so the hash matches the build-side xxhash64
    probe = local_frame(
        sketches.sparkSession,
        [(list(merged.keys()), list(merged.values()))],
        "ks array<long>, vs array<long>",
    ).select(F.map_from_arrays("ks", "vs").alias("cms"))
    cols = [
        F.coalesce(
            F.element_at(
                "cms", sketch.cms_probe_key(F.lit(float(member)), i, CMS_WIDTH)
            ),
            F.lit(0).cast("long"),
        )
        for i in range(CMS_DEPTH)
    ]
    est = probe.select(F.least(*cols).alias("est")).first()["est"]
    eps_bound = math.e * n_items / CMS_WIDTH
    return AggResult(value=float(est), error=eps_bound)


def query_distinct(
    sketches: DataFrame, stream_id: int, t0: int, t1: int
) -> AggResult:
    """Approx distinct values over the covering windows (HLL union)."""
    row = (
        _overlap(sketches, stream_id, t0, t1)
        .agg(F.hll_sketch_estimate(F.hll_union_agg("hll")).alias("nd"))
        .first()
    )
    nd = float(row["nd"]) if row and row["nd"] is not None else 0.0
    rse = 1.04 / math.sqrt(1 << HLL_LGK)
    return AggResult(value=nd, error=rse * nd)


def query_quantile(
    sketches: DataFrame, stream_id: int, q: float, t0: int, t1: int
) -> AggResult:
    """Approx value quantile over the covering windows (KLL merge)."""
    merged = (
        _overlap(sketches, stream_id, t0, t1)
        .agg(F.collect_list("kll").alias("ks"))
        .select(sketch.kll_fold(F.col("ks")).alias("kll"))
    )
    row = merged.select(
        F.kll_sketch_get_quantile_double("kll", F.lit(float(q))).alias("v")
    ).first()
    if row is None or row["v"] is None:
        return AggResult(value=float("nan"), error=float("nan"))
    # normalized rank error for KLL with k=200 is ~1.65% (DataSketches)
    return AggResult(value=float(row["v"]), error=0.0165)


def sketch_range_frame_multi(
    sketches: DataFrame,
    ranges: DataFrame,
    ops: Sequence[str] = ("membership", "frequency", "distinct", "quantile"),
    landmark_points: Optional[DataFrame] = None,
    *,
    bloom_m: int = BLOOM_M,
    bloom_k: int = BLOOM_K,
    hll_lgk: int = HLL_LGK,
    cms_depth: int = CMS_DEPTH,
    cms_width: int = CMS_WIDTH,
    q: float = 0.5,
) -> DataFrame:
    """ALL requested sketch ops per range row in ONE overlap join + ONE
    hash aggregation — the fused form of ``sketch_range_frame`` for
    callers that want several ops over the same ranges (each op answered
    separately pays the full join+aggregate plan per op; fused, the store
    is scanned once and every op is just extra aggregate columns).

    ``ranges``: (stream_id, qid, t0, t1[, member]).  Returns one row per
    range with ``<op>_value`` / ``<op>_error`` column pairs carrying
    exactly the per-op ``sketch_range_frame`` semantics (probe-pushdown
    membership/frequency, HLL union, sorted KLL fold; empty-overlap
    defaults included).
    """
    ops = tuple(ops)
    need_member = any(o in ops for o in ("membership", "frequency"))
    r = ranges.select(
        "stream_id",
        "qid",
        F.col("t0").cast("long").alias("t0"),
        F.col("t1").cast("long").alias("t1"),
        *(
            [F.col("member").cast("double").alias("member")]
            if need_member
            else []
        ),
    )
    key = _RANGE_KEY + (["member"] if need_member else [])
    sk_cols = {"count"}
    if "membership" in ops:
        sk_cols.add("bloom")
    if "frequency" in ops:
        sk_cols.add("cms")
    if "distinct" in ops:
        sk_cols.add("hll")
    if "quantile" in ops:
        sk_cols.add("kll")
    s = sketches.select(
        F.col("stream_id").alias("_s_sid"), "time_start", "time_end", *sk_cols
    )
    j = F.broadcast(r).join(
        s,
        (F.col("stream_id") == F.col("_s_sid"))
        & (F.col("time_end") >= F.col("t0"))
        & (F.col("time_start") <= F.col("t1")),
    )

    proj_cols, aggs = [F.col("count")], [F.sum("count").alias("n_items")]
    if "membership" in ops:
        hits = sketch.bloom_probe_hits(
            F.col("bloom"), F.col("member"), m_bits=bloom_m, k=bloom_k
        )
        proj_cols += [
            F.element_at(hits, i + 1).cast("int").alias(f"_h{i}")
            for i in range(bloom_k)
        ]
        aggs += [F.max(f"_h{i}").alias(f"_h{i}") for i in range(bloom_k)]
    if "frequency" in ops:
        proj_cols += [
            F.coalesce(
                F.element_at(
                    "cms", sketch.cms_probe_key(F.col("member"), i, cms_width)
                ),
                F.lit(0).cast("long"),
            ).alias(f"_c{i}")
            for i in range(cms_depth)
        ]
        aggs += [F.sum(f"_c{i}").alias(f"_c{i}") for i in range(cms_depth)]
    if "distinct" in ops:
        proj_cols.append(F.col("hll"))
        aggs.append(
            F.hll_sketch_estimate(F.hll_union_agg("hll")).alias("_nd")
        )
    if "quantile" in ops:
        proj_cols.append(F.col("kll"))
        aggs.append(F.collect_list("kll").alias("_ks"))

    res = j.select(*key, *proj_cols).groupBy(*key).agg(*aggs)

    out_cols = []
    if "membership" in ops:
        hit = None
        for i in range(bloom_k):
            c = F.col(f"_h{i}") == 1
            hit = c if hit is None else (hit & c)
        fp = F.pow(
            F.lit(1.0)
            - F.exp(
                F.lit(-float(bloom_k)) * F.col("n_items") / F.lit(float(bloom_m))
            ),
            F.lit(float(bloom_k)),
        )
        out_cols += [
            F.when(hit, F.lit(1.0)).otherwise(F.lit(0.0)).alias("membership_value"),
            F.when(hit, fp).otherwise(F.lit(0.0)).alias("membership_error"),
        ]
    if "frequency" in ops:
        out_cols += [
            F.least(*[F.col(f"_c{i}") for i in range(cms_depth)])
            .cast("double")
            .alias("frequency_value"),
            (F.lit(math.e) * F.col("n_items") / F.lit(float(cms_width))).alias(
                "frequency_error"
            ),
        ]
    if "distinct" in ops:
        rse = 1.04 / math.sqrt(1 << hll_lgk)
        out_cols += [
            F.col("_nd").cast("double").alias("distinct_value"),
            (F.lit(rse) * F.col("_nd").cast("double")).alias("distinct_error"),
        ]
    if "quantile" in ops:
        merged = sketch.kll_fold(F.col("_ks"))
        out_cols += [
            F.kll_sketch_get_quantile_double(merged, F.lit(float(q))).alias(
                "quantile_value"
            ),
            F.lit(0.0165).alias("quantile_error"),
        ]
    res = res.select(*key, *out_cols)

    # empty-overlap defaults per op (membership/frequency/distinct -> 0.0;
    # quantile -> NaN), mirroring the per-op frames
    fill = []
    for o in ops:
        if o == "quantile":
            fill += [
                F.coalesce(
                    F.col("quantile_value"), F.lit(float("nan"))
                ).alias("quantile_value"),
                F.when(F.col("quantile_value").isNotNull(), F.lit(0.0165))
                .otherwise(F.lit(float("nan")))
                .alias("quantile_error"),
            ]
        else:
            fill += [
                F.coalesce(F.col(f"{o}_value"), F.lit(0.0)).alias(f"{o}_value"),
                F.coalesce(F.col(f"{o}_error"), F.lit(0.0)).alias(f"{o}_error"),
            ]
    out = r.join(res, key, "left").select(*key, *fill)

    if "membership" in ops and landmark_points is not None:
        lm = (
            F.broadcast(r)
            .join(
                landmark_points.select(
                    F.col("stream_id").alias("_l_sid"), "ts", "value"
                ),
                (F.col("stream_id") == F.col("_l_sid"))
                & F.col("ts").between(F.col("t0"), F.col("t1"))
                & (F.col("value") == F.col("member")),
            )
            .groupBy(*key)
            .agg(F.lit(True).alias("_lm_hit"))
        )
        keep = [c for c in out.columns if c not in key + ["membership_value", "membership_error"]]
        out = out.join(lm, key, "left").select(
            *key,
            F.when(F.col("_lm_hit"), F.lit(1.0))
            .otherwise(F.col("membership_value"))
            .alias("membership_value"),
            F.when(F.col("_lm_hit"), F.lit(0.0))
            .otherwise(F.col("membership_error"))
            .alias("membership_error"),
            *keep,
        )
    return out


def batched_sketch_requests(
    spark,
    sketches: DataFrame,
    requests: Sequence[tuple],
    landmark_points: Optional[DataFrame] = None,
) -> DataFrame:
    """Answer mixed (stream_id, op, t0, t1[, arg]) sketch requests in one
    lazy plan: requests group by op (and by quantile literal — the KLL
    rank must be plan-time foldable), each group is one
    ``sketch_range_frame`` overlap join against the shared store, groups
    union.  Returns (stream_id, qid, op, t0, t1, value, error) with qid =
    request position.  Shared by ``SummaryDB.query_many_sketch`` and
    ``StreamingSummarizer.query_many_sketch``.
    """
    if not requests:
        return local_frame(
            spark,
            [],
            "stream_id long, qid long, op string, t0 long, t1 long, "
            "value double, error double",
        )
    norm = []
    for i, req in enumerate(requests):
        if len(req) == 4:
            sid, op, t0, t1 = req
            arg = None
        elif len(req) == 5:
            sid, op, t0, t1, arg = req
        else:
            raise ValueError(f"request {i}: expected 4 or 5 fields")
        if op in ("membership", "frequency") and arg is None:
            raise ValueError(f"request {i}: {op} needs a member arg")
        if op == "quantile" and arg is None:
            arg = 0.5
        norm.append((int(sid), op, int(t0), int(t1), arg))

    groups: dict = {}
    for qid, (sid, op, t0, t1, arg) in enumerate(norm):
        key = (op, arg) if op == "quantile" else (op, None)
        groups.setdefault(key, []).append((sid, qid, t0, t1, arg))
    core = ["stream_id", "qid", "t0", "t1", "value", "error"]
    out = None
    for (op, qv), rows in groups.items():
        if op in ("membership", "frequency"):
            # str/bytes members encode into the float64 domain the same
            # way append_pairs encoded them (engine.generic_member_key)
            from summarydb_spark.engine import generic_member_key

            rdf = local_frame(
                spark,
                [
                    (s, q, t0, t1, generic_member_key(a))
                    for s, q, t0, t1, a in rows
                ],
                "stream_id long, qid long, t0 long, t1 long, member double",
            )
        else:
            rdf = local_frame(
                spark,
                [(s, q, t0, t1) for s, q, t0, t1, _a in rows],
                "stream_id long, qid long, t0 long, t1 long",
            )
        frame = sketch_range_frame(
            sketches,
            rdf,
            op,
            landmark_points=landmark_points if op == "membership" else None,
            **({"q": float(qv)} if op == "quantile" else {}),
        )
        frame = frame.select(*core, F.lit(op).alias("op"))
        out = frame if out is None else out.unionByName(frame)
    return out.select(
        "stream_id", "qid", "op", "t0", "t1", "value", "error"
    ).orderBy("qid")
