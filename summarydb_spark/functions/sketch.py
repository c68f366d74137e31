"""Mergeable sketch aggregates: bloom, count-min, HLL, KLL quantiles.

The reference declares bloom / count-min / frequency operators in its
serialization schema without implementing them (SURVEY §2.1:
``protos/summarydb.capnp:6-13`` enum slots, ``README.md:27-28`` promise).
Here they are real, built the way a decayed-window store wants them: as
**mergeable per-window aggregates** — each summary window carries a sketch,
and a time-range query merges the sketches of the overlapping windows
(identical shape to count/sum/max merging in ``core/op_set.go:44-60``).

Design rules
- HLL distinct and KLL quantiles use Spark's built-in DataSketches
  aggregates (`hll_sketch_agg`/`hll_union_agg`, `kll_sketch_agg_*`) —
  JVM-side, mergeable, exactly what a 1000-executor cluster wants.
- Bloom and count-min are *deterministic* column-math implementations
  (xxhash64 + explode + bit_or/sum): Spark exposes `count_min_sketch` only
  as an opaque binary without an estimate function, and bloom only as a
  driver-side action.  Long-format state (group, slot, value) keeps every
  step a plain hash aggregate — linear scans, one shuffle per level, no
  UDFs, no driver collect.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# Bloom filter (per-group array<long> of m/64 words)
# ---------------------------------------------------------------------------

# shiftleft() requires a plan-time int shift; a 64-entry literal lookup array
# gives shift-by-column and works inside lambda functions too (built lazily:
# Column construction needs an active SparkContext)


def _bit_mask(pos_mod_64: Column) -> Column:
    pow2 = F.array(
        *[
            F.lit((1 << i) if i < 63 else -(1 << 63)).cast("long")
            for i in range(64)
        ]
    )
    return F.element_at(pow2, pos_mod_64.cast("int") + 1)


def _bloom_position_cols(value: Column, m_bits: int, k: int) -> list:
    """The k bit positions of ``value`` via double hashing h1 + i*h2
    (Kirsch & Mitzenmacher: two base hashes give k independent-enough
    probes)."""
    h1 = F.pmod(F.xxhash64(value), F.lit(m_bits))
    h2 = F.pmod(F.xxhash64(value, F.lit(0x5EED)), F.lit(m_bits - 1)) + 1
    return [F.pmod(h1 + F.lit(i) * h2, F.lit(m_bits)) for i in range(k)]


def _bloom_positions(value: Column, m_bits: int, k: int) -> Column:
    return F.array(*_bloom_position_cols(value, m_bits, k))


def bloom_aggregate(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    m_bits: int = 1 << 13,
    k: int = 5,
) -> DataFrame:
    """Per-group bloom filter as ``bloom: map<long,long>`` (word index ->
    64-bit word), storing only non-zero words.

    The sparse map beats a dense array<long> twice over: the state size
    tracks the number of *set* words (cheap for small windows under heavy
    decay), and there is no m/64-term array-construction expression to blow
    past the JVM 64KB method limit at large m (dense construction at
    m=2^16 made whole-stage codegen bail to interpreted mode).

    Plan: :func:`sketch_maps` with only the bloom map — one explode of
    the k positions, ``bit_or`` per (group, word), then map_from_entries
    per group.  Both aggregates combine map-side, so shuffled volume is
    ~ (#groups x #distinct words), independent of row count.
    """
    return sketch_maps(df, group_cols, value_col, bloom=(m_bits, k))


def bloom_probe_hits(
    bloom: Column, value: Column, m_bits: int = 1 << 13, k: int = 5
) -> Column:
    """Per-position probe hits (array<boolean>, length k) against ONE
    bloom map.  Because the merged filter's bit p is the OR of bit p over
    the merged windows, range membership = AND over positions of
    (bool_or over windows) — so pushing the probe into each window row
    lets a range query aggregate k booleans instead of merging whole
    maps (operators/sketch_windows.sketch_range_frame uses this)."""
    positions = _bloom_positions(value, m_bits, k)
    return F.transform(
        positions,
        lambda p: F.coalesce(
            F.element_at(bloom, (p / 64).cast("long")), F.lit(0).cast("long")
        ).bitwiseAND(_bit_mask(p % 64))
        != 0,
    )


def bloom_contains(
    bloom: Column, value: Column, m_bits: int = 1 << 13, k: int = 5
) -> Column:
    """Membership probe against a ``bloom_aggregate`` map (no false
    negatives; false-positive rate ~ (1-e^{-kn/m})^k)."""
    return F.forall(bloom_probe_hits(bloom, value, m_bits, k), lambda b: b)


def bloom_to_dense(bloom: Column, m_bits: int) -> Column:
    """Sparse bloom map -> dense ``array<long>`` of all m/64 words.

    Spark's map ``element_at`` is a linear scan over the entries array, so
    probing a well-filled bloom (every word non-zero) costs O(m/64) per
    lookup — ruinous when ONE merged bloom is probed by millions of rows
    (the decontamination prefilter).  Densify once on the single-row
    broadcast side and each probe becomes an O(1) array index.  Keep the
    sparse map for per-window state (many small blooms, few probes)."""
    nwords = m_bits // 64
    return F.transform(
        F.sequence(F.lit(0), F.lit(nwords - 1)),
        lambda w: F.coalesce(
            F.element_at(bloom, w.cast("long")), F.lit(0).cast("long")
        ),
    )


def bloom_contains_dense(
    bits: Column, value: Column, m_bits: int = 1 << 13, k: int = 5
) -> Column:
    """Membership probe against a :func:`bloom_to_dense` word array —
    same semantics as :func:`bloom_contains`, O(1) per position."""
    positions = _bloom_positions(value, m_bits, k)
    return F.forall(
        positions,
        lambda p: F.element_at(bits, (p / 64).cast("int") + 1).bitwiseAND(
            _bit_mask(p % 64)
        )
        != 0,
    )


def bloom_merge(a: Column, b: Column) -> Column:
    """Union of two blooms (keywise OR over the union of set words) — the
    mergeable-op law that lets per-window blooms answer range membership."""
    return F.map_zip_with(
        a,
        b,
        lambda _k, x, y: F.coalesce(x, F.lit(0).cast("long")).bitwiseOR(
            F.coalesce(y, F.lit(0).cast("long"))
        ),
    )


# ---------------------------------------------------------------------------
# Count-min sketch (long format: (group, depth, col, cnt))
# ---------------------------------------------------------------------------


def _cms_col(value: Column, depth_i: int, width: int) -> Column:
    return F.pmod(F.xxhash64(value, F.lit(1000 + depth_i)), F.lit(width))


def cms_probe_key(value: Column, depth_i: int, width: int) -> Column:
    """Flattened ``depth*width + col`` key of ``value`` in a per-window CMS
    map (:func:`sketch_maps` builds the map with exactly this layout).
    Build and probe MUST share the hash definition: a probe with a
    drifted seed reads absent keys, and the ``coalesce(..., 0)`` miss
    default silently collapses every estimate to 0."""
    return F.lit(depth_i * width) + _cms_col(value, depth_i, width)


def sketch_maps(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    *,
    bloom: tuple | None = None,
    cms: tuple | None = None,
    gates: dict | None = None,
) -> DataFrame:
    """Per-group ``bloom`` (word -> 64-bit word, the
    :func:`bloom_aggregate` layout) and/or ``cms`` (``depth*width + col``
    -> count, the :func:`cms_probe_key` layout) maps from ONE explode.

    ``bloom=(m_bits, k)`` and ``cms=(depth, width)`` select the maps.
    ``gates`` optionally maps ``"bloom"``/``"cms"`` to a boolean column:
    a row contributes to that map only where it holds (a NULL entry array
    explodes to nothing); a group with no entries for one map gets an
    empty map there, and a group with no entries at all gets no row.  The
    gate sits inside the generator, not in a row filter: a
    filter on a partitioning column is pushed below window operators into
    the scan, and the maps' branch could then no longer share an upstream
    exchange with the caller's other aggregations.

    Each row becomes one entry per bloom position (kind 0) and per
    count-min row (kind 1: its cell); entries aggregate per (group, kind,
    key) — ``bit_or`` of the position's bit for bloom words, a count for
    cms cells — and then per group into the maps.  Plain array/struct
    expressions only: a lambda (transform, filter) is evaluated outside
    whole-stage codegen, row by row."""
    gcols = list(group_cols)
    value = F.col(value_col)
    arrays = {}
    if bloom is not None:
        m_bits, k = bloom
        assert m_bits % 64 == 0
        arrays["bloom"] = [
            F.struct(F.lit(0).alias("kind"), p.alias("raw"))
            for p in _bloom_position_cols(value, m_bits, k)
        ]
    if cms is not None:
        depth, width = cms
        arrays["cms"] = [
            F.struct(F.lit(1).alias("kind"), cms_probe_key(value, i, width).alias("raw"))
            for i in range(depth)
        ]
    maps = list(arrays)
    on = {op: (gates or {}).get(op) for op in maps}
    if all(g is None for g in on.values()):
        entries = F.array(*[e for op in maps for e in arrays[op]])
    else:
        on = {op: F.lit(True) if g is None else g for op, g in on.items()}
        entries = None
        if len(maps) == 2:
            entries = F.when(
                on["bloom"] & on["cms"], F.array(*arrays["bloom"], *arrays["cms"])
            )
        for op in maps:
            arr = F.array(*arrays[op])
            entries = F.when(on[op], arr) if entries is None else entries.when(on[op], arr)
    is_bloom = F.col("kind") == 0
    cells = (
        df.select(*gcols, F.inline(entries))
        .select(
            *gcols,
            "kind",
            F.when(is_bloom, (F.col("raw") / 64).cast("long"))
            .otherwise(F.col("raw"))
            .alias("key"),
            F.when(is_bloom, _bit_mask(F.col("raw") % 64)).alias("mask"),
        )
        .groupBy(*gcols, "kind", "key")
        .agg(F.bit_or("mask").alias("_bits"), F.count(F.lit(1)).alias("_n"))
    )
    kv = F.struct("key", F.when(is_bloom, F.col("_bits")).otherwise(F.col("_n")))
    kinds = {"bloom": 0, "cms": 1}
    return cells.groupBy(*gcols).agg(
        *[
            F.map_from_entries(
                F.collect_list(F.when(F.col("kind") == kinds[op], kv))
            ).alias(op)
            for op in maps
        ]
    )


def kll_fold(ks: Column) -> Column:
    """Merge an array of KLL sketches in canonical order: sort the array
    first (``collect_list`` order is task-scheduling-dependent), then
    left-fold the binary merge.  Null/empty arrays fold to NULL
    (try_element_at).

    The sort removes merge ORDER as a variance source, but the merged
    bytes are still not reproducible: DataSketches KLL compaction keeps
    odd or even items by an internal random coin, so identical inputs in
    identical order produce different (all valid) sketches run-to-run —
    measured on Spark 4.1.  Anything exposed to a value-hash oracle must
    therefore be a rank-tolerance bound check, never raw estimates or
    sketch bytes (the registered sketch queries all do this)."""
    sorted_ks = F.array_sort(ks)
    return F.reduce(
        F.slice(sorted_ks, 2, F.greatest(F.size(sorted_ks) - 1, F.lit(0))),
        F.try_element_at(sorted_ks, F.lit(1)),
        lambda acc, x: F.kll_sketch_merge_double(acc, x),
    )


def cms_aggregate(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    depth: int = 4,
    width: int = 2048,
    weight: Column | None = None,
) -> DataFrame:
    """Count-min counters in long format (group, _depth, _col, cnt).

    Long format beats a 2-D array column at scale: the counter table is
    tiny (groups x depth x <=width non-zero cells), every step is a plain
    hash aggregate with map-side combine, and merging two sketches is
    ``UNION ALL + re-aggregate`` — the same monoid shape as count/sum/max.
    """
    gcols = list(group_cols)
    w = weight if weight is not None else F.lit(1).cast("long")
    rows = df.select(
        *gcols,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("_depth"),
                        _cms_col(F.col(value_col), i, width).alias("_col"),
                    )
                    for i in range(depth)
                ]
            )
        ).alias("_dc"),
        w.alias("_w"),
    )
    return (
        rows.select(*gcols, "_dc._depth", "_dc._col", "_w")
        .groupBy(*gcols, "_depth", "_col")
        .agg(F.sum("_w").alias("cnt"))
    )


def cms_estimate(
    counters: DataFrame,
    probes: DataFrame,
    group_cols: Sequence[str],
    probe_col: str = "probe",
    depth: int = 4,
    width: int = 2048,
) -> DataFrame:
    """Point-frequency estimates: min over depths of the matching counter.

    probes is small (a probe list) -> broadcast; the counters side is hit
    with an equi-join on (group, depth, col).  Estimate >= true count
    always; equality unless another item collides in all depths.
    """
    gcols = list(group_cols)
    p = probes.select(
        *gcols,
        F.col(probe_col).alias("_probe"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("_depth"),
                        _cms_col(F.col(probe_col), i, width).alias("_col"),
                    )
                    for i in range(depth)
                ]
            )
        ).alias("_dc"),
    ).select(*gcols, "_probe", "_dc._depth", "_dc._col")
    # right-outer builds on the LEFT side: hint the (tiny) counters relation
    # — F.broadcast(p) on the preserved side cannot be honored and Spark
    # silently fell back to a shuffle join
    joined = F.broadcast(counters).join(p, gcols + ["_depth", "_col"], "right").select(
        *gcols, "_probe", F.coalesce("cnt", F.lit(0)).alias("cnt")
    )
    return joined.groupBy(*gcols, "_probe").agg(F.min("cnt").alias("estimate"))


# ---------------------------------------------------------------------------
# HLL distinct & KLL quantiles (Spark-native DataSketches, mergeable)
# ---------------------------------------------------------------------------


def hll_window_sketches(
    df: DataFrame, group_cols: Sequence[str], value_col: str, lgk: int = 14
) -> DataFrame:
    """Per-group HLL sketch column ``hll`` (binary, mergeable)."""
    return df.groupBy(*group_cols).agg(
        F.hll_sketch_agg(F.col(value_col), F.lit(lgk)).alias("hll")
    )


def hll_estimate_over(
    sketches: DataFrame, merge_group_cols: Sequence[str]
) -> DataFrame:
    """Merge per-window sketches over a coarser grouping and estimate —
    the range-query path: union O(log N) window sketches, never rescan."""
    return sketches.groupBy(*merge_group_cols).agg(
        F.hll_sketch_estimate(F.hll_union_agg("hll")).alias("approx_distinct")
    )


def kll_window_sketches(
    df: DataFrame, group_cols: Sequence[str], value_col: str, k: int = 200
) -> DataFrame:
    """Per-group KLL quantile sketch over a double column (mergeable)."""
    return df.groupBy(*group_cols).agg(
        F.kll_sketch_agg_double(F.col(value_col), F.lit(k)).alias("kll")
    )


def kll_quantiles_over(
    sketches: DataFrame,
    merge_group_cols: Sequence[str],
    quantiles: Sequence[float] = (0.5, 0.9, 0.99),
) -> DataFrame:
    # kll_sketch_merge_double is a binary scalar merge, not an aggregate:
    # collect the (few, small) per-window sketches and fold them
    merged = sketches.groupBy(*merge_group_cols).agg(
        F.collect_list("kll").alias("_ks")
    ).select(
        *merge_group_cols,
        kll_fold(F.col("_ks")).alias("kll"),
    )
    cols = [
        F.kll_sketch_get_quantile_double("kll", F.lit(q)).alias(
            f"q{str(q).replace('.', '_')}"
        )
        for q in quantiles
    ]
    return merged.select(*merge_group_cols, *cols)
