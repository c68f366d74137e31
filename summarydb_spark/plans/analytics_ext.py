"""Analytics extensions: anomaly detection, deterministic sampling, skew
diagnostics, equi-depth histograms, and training-mix interleaving.

Same one-template-two-dialects scheme as portable_sql (the DuckDB rendering
is the correctness oracle).  These extend the engine's beyond-reference
surface: the reference stores time-decayed summaries (SURVEY.md §0); a user
running large-scale pipelines on top of it also needs the monitoring /
curation queries below, expressed as single declarative plans.

Portability rules (see portable_sql):
- every double aggregate goes through DECIMAL(38,10) (order-independent);
- second moments multiply *decimals* (DECIMAL(18,4) x DECIMAL(18,4) ->
  DECIMAL(37,8), exact, inside the 38-digit cap in both engines) rather
  than rounding double products;
- sampling keys are md5-derived (portable, retry-stable), never rand().

Scale notes (100 TB discipline):
- anomaly_zscore_daily: one hash aggregate (events -> event_type x day,
  output is tiny), then window math over the aggregated table only;
- reservoir_sample_events: rank-over-hash is the classic distributed
  reservoir equivalent — one shuffle on the group key; at extreme group
  cardinality skew, pre-filter with an approximate per-partition top-k
  (the hash threshold k/n is a constant-probability Bernoulli filter);
- skew_key_profile: the diagnostic itself is skew-proof — partial
  aggregation reduces each partition to its local key counts first;
- equidepth_histogram_value: exact ntile needs a total order (one range
  exchange); the scale path for 100 TB is the KLL sketch already shipped
  (sketch_kll_quantile_bound) — this exact variant is the small-data/
  verification twin;
- interleave_mix_batches: per-lang row_number is one shuffle on lang; the
  global round-robin position is a rank over (rn, lang) — at scale compute
  it arithmetically from per-lang counts (pos = rn-1 rounds of every lang
  that still has >= rn docs) instead of a global sort; the window form here
  is the verification twin and only sorts the take-ordered prefix.
"""

from __future__ import annotations

from summarydb_spark.plans.portable_dedup import md560
from summarydb_spark.plans.portable_sql import dsum, epoch_us


def _cast_str(expr: str, dialect: str) -> str:
    ty = "STRING" if dialect == "spark" else "VARCHAR"
    return f"CAST({expr} AS {ty})"


def q_anomaly_zscore_daily(dialect: str) -> str:
    """Trailing-window z-score anomaly detection over per-type daily value
    sums: each day is scored against the mean/std of the previous <= 7 days
    (current day excluded — the classic self-exclusion that keeps a spike
    from masking itself).  Mean and variance come from decimal power sums
    (S1, S2) so the window math is order-independent and engine-portable;
    the z expression tree is written identically in both dialects."""
    t = epoch_us("ts", dialect)
    idiv = "div" if dialect == "spark" else "//"
    frame = (
        "OVER (PARTITION BY event_type ORDER BY day "
        "ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)"
    )
    return f"""
WITH d AS (
  SELECT event_type, ({t} {idiv} 86400000000) AS day,
         {dsum("value")} AS sum_v
  FROM events
  GROUP BY event_type, ({t} {idiv} 86400000000)
),
w AS (
  -- Width discipline (found by the sf1 oracle gate, round 7): sum_v
  -- reaches 3.3e9 at sf1, so DECIMAL(18,4) squares overflow DuckDB's
  -- multiply and the unrounded s1 mantissa passes 2^53.  s1 rounds to
  -- its exact scale (sum_v carries exactly 4 decimals, so round(,4) is
  -- lossless) BEFORE the double cast; s2 squares integer micro-units
  -- in DECIMAL(19,0) x DECIMAL(19,0) -> DECIMAL(38,0) in both engines
  -- (width 19 forces DuckDB onto int128 physical storage — width 18
  -- multiplies in int64 and overflows past 9.2e18), good through the
  -- next decade (sf10: m <= 3.3e14, sum(m^2) <= 7.7e29 << 1e38).
  SELECT event_type, day, sum_v,
         CAST(round(sum(CAST(sum_v AS DECIMAL(38,10))) {frame}, 4)
              AS DOUBLE) AS s1,
         CAST(sum(CAST(round(sum_v * 10000) AS DECIMAL(19,0))
                  * CAST(round(sum_v * 10000) AS DECIMAL(19,0)))
              {frame} AS DOUBLE) / 100000000.0 AS s2,
         CAST(count(*) {frame} AS BIGINT) AS n_prior
  FROM d
)
SELECT event_type, CAST(day AS BIGINT) AS day, sum_v, n_prior,
       round((sum_v - s1 / n_prior)
             / sqrt(greatest(s2 / n_prior - (s1 / n_prior) * (s1 / n_prior),
                             CAST(0 AS DOUBLE)) + 0.000001), 6) AS zscore,
       CAST(CASE WHEN abs((sum_v - s1 / n_prior)
             / sqrt(greatest(s2 / n_prior - (s1 / n_prior) * (s1 / n_prior),
                             CAST(0 AS DOUBLE)) + 0.000001)) > 3
            THEN 1 ELSE 0 END AS INTEGER) AS is_anomaly
FROM w
WHERE n_prior >= 4"""


def q_reservoir_sample_events(dialect: str) -> str:
    """Deterministic per-group 'reservoir' sample: k=20 events per
    event_type, selected by rank over an md5 hash of the event id — the
    distributed equivalent of reservoir sampling (uniform over the group,
    reproducible across engines, retries, and partitionings, unlike
    rand())."""
    hk = md560(_cast_str("event_id", dialect), dialect)
    return f"""
WITH h AS (
  SELECT event_type, event_id, value, {hk} AS hk FROM events
),
r AS (
  SELECT event_type, event_id, value,
         row_number() OVER (PARTITION BY event_type ORDER BY hk, event_id)
           AS rn
  FROM h
)
SELECT event_type, CAST(rn AS BIGINT) AS rn, event_id,
       round(value, 6) AS value
FROM r WHERE rn <= 20"""


def q_skew_key_profile(dialect: str) -> str:
    """Shuffle-skew diagnostic: the 10 heaviest join/agg keys (user_id) with
    their share of all rows and their skew ratio vs the mean key load — the
    numbers that decide whether a key needs salting or AQE skew-join
    handling at scale."""
    return """
WITH c AS (
  SELECT user_id, count(*) AS cnt FROM events GROUP BY user_id
),
t AS (
  SELECT CAST(sum(cnt) AS DOUBLE) AS total_cnt,
         CAST(count(*) AS DOUBLE) AS n_keys
  FROM c
),
r AS (
  SELECT user_id, cnt,
         row_number() OVER (ORDER BY cnt DESC, user_id) AS rnk
  FROM c
)
SELECT CAST(r.rnk AS BIGINT) AS rnk, r.user_id, CAST(r.cnt AS BIGINT) AS cnt,
       round(r.cnt / t.total_cnt, 6) AS share,
       round(r.cnt * t.n_keys / t.total_cnt, 6) AS skew_ratio
FROM r CROSS JOIN t
WHERE r.rnk <= 10"""


def q_equidepth_histogram_value(dialect: str) -> str:
    """Exact equi-depth (decile) histogram of the event value distribution:
    ntile over a total order, then per-bucket bounds/mass.  Both engines
    share ntile's fill semantics (earlier buckets take the remainder).  The
    100 TB path is the KLL sketch (sketch_kll_quantile_bound); this exact
    form is its verification twin.

    This SQL is the DUCKDB oracle; the registered Spark plan is
    :func:`q_equidepth_histogram_df`, which computes the identical bucket
    ids from the two-phase partition-offset rank instead of ntile's
    single-partition window over the whole fact table."""
    return f"""
WITH r AS (
  SELECT value, ntile(10) OVER (ORDER BY value, event_id) AS bucket
  FROM events
)
SELECT CAST(bucket AS INTEGER) AS bucket,
       count(*) AS n_rows,
       round(min(value), 6) AS lo,
       round(max(value), 6) AS hi,
       {dsum("value")} AS sum_v
FROM r
GROUP BY bucket"""


def q_equidepth_histogram_df(spark, sf_dir: str):
    """Spark-side equidepth_histogram_value (oracle:
    :func:`q_equidepth_histogram_value`): ntile(10) re-derived from the
    exact global rank (1 + operators/shuffle_tools.running_sum of 1 per
    row: two-pass partition-offset — no single-partition WindowExec over
    events) plus the closed-form fill rule both engines share: with n
    rows, q = n div 10 and rem = n mod 10, the first rem buckets take q+1
    rows, so

        bucket(r) = (r-1) div (q+1) + 1                    if r <= rem*(q+1)
                    rem + (r-1-rem*(q+1)) div q + 1        otherwise

    (all integer; for n < 10 every row lands in the THEN branch, so the
    ELSE's q=0 division is never evaluated).  The total-row count joins
    in as a broadcast 1-row aggregate; per-bucket aggregates use the
    same dsum/round text as the oracle."""
    from pyspark.sql import functions as F

    from summarydb_spark.operators.shuffle_tools import running_sum
    from summarydb_spark.sources.tables import register_tables

    register_tables(spark, sf_dir)
    ev = spark.table("events").select("value", "event_id")
    ranked = running_sum(ev, ["value", "event_id"], out_col="_rnk").withColumn(
        "_rnk", F.col("_rnk") + 1
    )
    nrel = ranked.agg(F.count(F.lit(1)).alias("_n"))
    bucketed = ranked.crossJoin(F.broadcast(nrel)).withColumn(
        "bucket",
        F.expr(
            "CAST(CASE WHEN _rnk <= (_n % 10) * (_n div 10 + 1)"
            " THEN (_rnk - 1) div (_n div 10 + 1) + 1"
            " ELSE (_n % 10) + (_rnk - 1 - (_n % 10) * (_n div 10 + 1))"
            "      div (_n div 10) + 1 END AS INTEGER)"
        ),
    )
    return bucketed.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.expr("round(min(value), 6)").alias("lo"),
        F.expr("round(max(value), 6)").alias("hi"),
        F.expr(dsum("value")).alias("sum_v"),
    )


def q_interleave_mix_batches(dialect: str) -> str:
    """Deterministic round-robin interleave of the per-language document
    streams into one global training order (the 'data mixing' order a
    trainer consumes): position is the rank of (per-lang sequence number,
    lang).  Emits the first 200 positions — the inspection window a mixing
    pipeline would sanity-check."""
    return """
WITH r AS (
  SELECT lang, doc_id, n_chars,
         row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
  FROM documents
),
g AS (
  SELECT lang, doc_id, n_chars, rn,
         row_number() OVER (ORDER BY rn, lang, doc_id) AS pos
  FROM r
)
SELECT CAST(pos AS BIGINT) AS pos, lang, doc_id,
       CAST(rn AS BIGINT) AS rn, n_chars
FROM g WHERE pos <= 200"""


def q_embedding_centroids_by_label(dialect: str) -> str:
    """Per-class embedding centroids, one row per (label, dimension): the
    build step of centroid-based classification / SemDeDup clustering /
    drift monitoring.  Explode-then-aggregate keeps it one hash aggregate
    keyed by (label, dim) — the transpose trick that scales to any corpus
    size because the shuffle carries only labels x dims cells, with
    map-side partial aggregation absorbing the row count."""
    if dialect == "spark":
        exploded = (
            "SELECT label, idx, CAST(v AS DOUBLE) AS v "
            "FROM embeddings "
            "LATERAL VIEW posexplode(embedding) t AS idx, v"
        )
    else:
        exploded = (
            "SELECT label, t.i AS idx, CAST(embedding[t.i + 1] AS DOUBLE) AS v "
            "FROM embeddings, unnest(range(0, len(embedding))) AS t(i)"
        )
    return f"""
WITH e AS ({exploded})
SELECT label, CAST(idx AS INTEGER) AS dim,
       count(*) AS n_vecs,
       CAST(round(CAST(sum(CAST(v AS DECIMAL(38,10))) AS DOUBLE)
             / count(*), 6) AS DOUBLE) AS centroid
FROM e
GROUP BY label, idx"""


def q_source_mix_entropy(dialect: str) -> str:
    """Corpus-mix diagnostics per source bucket: language distribution
    entropy (nats) and the source's share of total characters — the
    numbers a data-mixing pipeline monitors for diversity collapse.
    Entropy sums p*ln(p) over an already-aggregated (source, lang) table,
    so the double fold is over <= #langs values with an identical
    expression tree in both engines."""
    return """
WITH sl AS (
  SELECT source, lang, count(*) AS cnt,
         CAST(sum(n_chars) AS BIGINT) AS chars
  FROM documents GROUP BY source, lang
),
p AS (
  SELECT source, lang, cnt, chars,
         sum(cnt) OVER (PARTITION BY source) AS tot
  FROM sl
),
s AS (
  -- each entropy term is an identical double expression in both engines;
  -- the decimal cast makes the per-source sum order-independent
  SELECT source,
         CAST(sum(cnt) AS BIGINT) AS n_docs,
         CAST(sum(chars) AS BIGINT) AS n_chars,
         count(*) AS n_langs,
         round(-CAST(sum(CAST((CAST(cnt AS DOUBLE) / CAST(tot AS DOUBLE))
                              * ln(CAST(cnt AS DOUBLE) / CAST(tot AS DOUBLE))
                              AS DECIMAL(38,10))) AS DOUBLE), 6)
           AS lang_entropy
  FROM p GROUP BY source
)
SELECT source, n_docs, n_chars, CAST(n_langs AS BIGINT) AS n_langs,
       lang_entropy,
       round(CAST(n_chars AS DOUBLE) / CAST(sum(n_chars) OVER () AS DOUBLE), 6)
         AS char_share
FROM s"""


def q_range_frame_trailing_3d(dialect: str) -> str:
    """RANGE window frame (value-based, vs the ROWS frame moving_avg_7d
    uses): trailing 3-day sum per event_type over the daily table — days
    with gaps contribute nothing, which a ROWS frame would get wrong.
    Frame sums accumulate in DECIMAL (order-independent, portable)."""
    t = epoch_us("ts", dialect)
    idiv = "div" if dialect == "spark" else "//"
    frame = (
        "OVER (PARTITION BY event_type ORDER BY day "
        "RANGE BETWEEN 3 PRECEDING AND CURRENT ROW)"
    )
    return f"""
WITH d AS (
  SELECT event_type, ({t} {idiv} 86400000000) AS day,
         {dsum("value")} AS sum_v
  FROM events
  GROUP BY event_type, ({t} {idiv} 86400000000)
)
SELECT event_type, CAST(day AS BIGINT) AS day, sum_v,
       CAST(round(sum(CAST(sum_v AS DECIMAL(38,10))) {frame}, 4) AS DOUBLE)
         AS sum_3d,
       CAST(count(*) {frame} AS BIGINT) AS days_in_frame
FROM d"""


def q_rolling_distinct_users_7d(dialect: str) -> str:
    """Trailing 7-day distinct active users per day — the dashboard query
    that is NOT frame-expressible (count(DISTINCT) over a window) and so
    becomes a compact range join: the (day, user) table joins the day
    spine on a 7-day band, then one distinct-count per day.  Scale shape:
    the join inputs are already aggregated to (days x active users), orders
    of magnitude smaller than events; the 100 TB path swaps the exact
    distinct for the mergeable HLL windows (sketch_hll_distinct_bound)."""
    t = epoch_us("ts", dialect)
    idiv = "div" if dialect == "spark" else "//"
    return f"""
WITH du AS (
  SELECT DISTINCT ({t} {idiv} 86400000000) AS day, user_id FROM events
),
spine AS (SELECT DISTINCT day FROM du)
SELECT s.day, count(DISTINCT u.user_id) AS active_7d,
       count(*) AS user_days_7d
FROM spine s
JOIN du u ON u.day BETWEEN s.day - 6 AND s.day
GROUP BY s.day"""


def q_downsample_m4_daily(dialect: str) -> str:
    """M4 time-series downsampling: per (event_type, day) bucket keep the
    first/last/min/max points — the standard error-free downsampler for
    line-chart rendering (each pixel column's extremes survive).  One
    window pass: four row_numbers over the same partition (one exchange,
    co-sorted), then a constant 4-role spine unpivots the picks — the
    windowed relation evaluates once, never per role.  Tie-breaks are
    total orders ((t, event_id) / (value, t, event_id)), so both engines
    pick identical rows; values pass through untouched (no float math).
    Scale: shuffle carries the raw points once, keyed by bucket; output
    is <= 4 rows per bucket regardless of input size."""
    t = epoch_us("ts", dialect)
    idiv = "div" if dialect == "spark" else "//"
    part = "PARTITION BY event_type, day"
    return f"""
WITH e AS (
  SELECT event_type, ({t} {idiv} 86400000000) AS day,
         {t} AS t, value, event_id
  FROM events
),
r AS (
  SELECT event_type, day, t, value,
    row_number() OVER ({part} ORDER BY t, event_id) AS rf,
    row_number() OVER ({part} ORDER BY t DESC, event_id DESC) AS rl,
    row_number() OVER ({part} ORDER BY value, t, event_id) AS rmin,
    row_number() OVER ({part} ORDER BY value DESC, t, event_id) AS rmax
  FROM e
)
SELECT event_type, CAST(day AS BIGINT) AS day, roles.role, t, value
FROM r
CROSS JOIN (VALUES ('first'), ('last'), ('min'), ('max')) AS roles(role)
WHERE (roles.role = 'first' AND r.rf = 1)
   OR (roles.role = 'last' AND r.rl = 1)
   OR (roles.role = 'min' AND r.rmin = 1)
   OR (roles.role = 'max' AND r.rmax = 1)"""


def q_weighted_sample_ares(dialect: str) -> str:
    """A-Res weighted sampling without replacement: top-20 orders by the
    Efraimidis-Spirakis key ln(u)/w (monotone in u^(1/w)), with u an
    md5-derived uniform — deterministic across engines, retries, and
    arrival order, unlike rand().  The key rounds to 9 decimals before
    ranking so a 1-ulp libm ln() divergence between engines cannot flip
    the order; (key, orderkey) is a total order.  Scale: one map-side
    key computation + a top-k (TakeOrdered — no global sort
    materialization)."""
    key_col = "CAST(o_orderkey AS STRING)" if dialect == "spark" else (
        "CAST(o_orderkey AS VARCHAR)")
    h = md560(f"concat('ares:', {key_col})", dialect)
    # top-20 FIRST (TakeOrdered in Spark — per-partition top-k, no global
    # sort and no single-partition WindowExec over all orders), THEN
    # row_number over the 20 survivors; identical ranks since the window
    # order equals the cut order (a total order)
    return f"""
WITH keyed AS (
  SELECT o_orderkey, o_totalprice AS w,
         (CAST({h} AS DOUBLE) + 0.5) / 1152921504606846976.0 AS u
  FROM orders
),
scored AS (
  SELECT o_orderkey, w, round(ln(u) / w, 9) + 0.0 AS ares_key
  FROM keyed WHERE w > 0
),
top AS (
  SELECT o_orderkey, w, ares_key
  FROM scored
  ORDER BY ares_key DESC, o_orderkey
  LIMIT 20
)
SELECT o_orderkey, w, ares_key,
       CAST(row_number() OVER (ORDER BY ares_key DESC, o_orderkey)
            AS BIGINT) AS rnk
FROM top
ORDER BY ares_key DESC, o_orderkey"""


def q_gini_customer_revenue(dialect: str) -> str:
    """Revenue-concentration (Lorenz/Gini) diagnostics per market
    segment: the Gini coefficient of customer order totals, from the
    trapezoid form G = 1 - sum((cum_prev + cum) * share) / total — all
    accumulation in exact decimals over the (already aggregated)
    customer totals, one double division + round at the very end.  The
    shuffle carries #customers rows; the windows order by (total,
    custkey) — a total order, so both engines walk the identical Lorenz
    curve."""
    return f"""
WITH ct AS (
  SELECT c.c_mktsegment AS segment, o.o_custkey,
         CAST({dsum("o.o_totalprice", 2)} AS DECIMAL(18,2)) AS revenue
  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
  GROUP BY c.c_mktsegment, o.o_custkey
),
w AS (
  SELECT segment, revenue,
         sum(CAST(revenue AS DECIMAL(38,2)))
           OVER (PARTITION BY segment ORDER BY revenue, o_custkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         count(*) OVER (PARTITION BY segment) AS n,
         sum(CAST(revenue AS DECIMAL(38,2)))
           OVER (PARTITION BY segment) AS total
  FROM ct
)
SELECT segment, CAST(max(n) AS BIGINT) AS n_customers,
       CAST(round(CAST(max(total) AS DOUBLE), 2) AS DOUBLE) AS total_revenue,
       CAST(round(1.0
                  - CAST(sum(CAST(2 * cum - CAST(revenue AS DECIMAL(38,2))
                                  AS DECIMAL(38,2))) AS DOUBLE)
                    / nullif(CAST(max(n) AS DOUBLE)
                             * CAST(max(total) AS DOUBLE), 0.0),
                  6) AS DOUBLE) AS gini
FROM w
GROUP BY segment"""


def q_heatmap_dow_hour(dialect: str) -> str:
    """Seasonality heat map: event count and value sum per (day-of-week,
    hour-of-day) cell — the 2-D calendar profile a monitoring dashboard
    renders.  dow/hour come from integer epoch arithmetic (epoch day 0 =
    Thursday), so bucketing is engine-exact; one hash aggregate, output
    is <= 7 x 24 cells regardless of input size."""
    t = epoch_us("ts", dialect)
    idiv = "div" if dialect == "spark" else "//"
    return f"""
WITH e AS (
  SELECT ((({t} {idiv} 86400000000) + 4) % 7) AS dow,
         (({t} {idiv} 3600000000) % 24) AS hour,
         value
  FROM events
)
SELECT CAST(dow AS BIGINT) AS dow, CAST(hour AS BIGINT) AS hour,
       count(*) AS n_events,
       {dsum("value")} AS sum_value
FROM e
GROUP BY dow, hour"""


def q_burstiness_interarrival(dialect: str) -> str:
    """Traffic-shape diagnostics per event type: mean, coefficient of
    variation, and burstiness index B = (cv - 1)/(cv + 1) of
    inter-arrival gaps (B < 0 regular, ~0 Poisson, > 0 bursty).  Gaps
    are integer micros from one lag() window; moments come from decimal
    power sums over the gap relation — the same order-independent
    discipline as the corr/linreg family.  Degenerate inputs stay
    total: a type with < 2 gaps drops out (variance undefined); the
    sample variance is clamped at 0 before sqrt (the rounded power sums
    can dip epsilon-negative for near-constant gaps, and sqrt(-eps) is
    NaN, not NULL), so perfectly regular gaps report cv 0 and
    burstiness -1 — the exact regular-limit values — while an
    all-zero-gap type reports NULL via nullif rather than an ANSI
    divide-by-zero."""
    t = epoch_us("ts", dialect)
    return f"""
WITH s AS (
  SELECT event_type,
         {t} - lag({t}) OVER (PARTITION BY event_type
                              ORDER BY {t}, event_id) AS gap
  FROM events
),
m AS (
  SELECT event_type, count(*) AS n,
         {dsum("CAST(gap AS DOUBLE) / 1000000.0")} AS s1,
         {dsum("(CAST(gap AS DOUBLE) / 1000000.0)"
               " * (CAST(gap AS DOUBLE) / 1000000.0)", 2)} AS s2
  FROM s WHERE gap IS NOT NULL
  GROUP BY event_type
  HAVING count(*) >= 2
)
,
m2 AS (
  SELECT event_type, n, s1,
         greatest((s2 - s1 * s1 / n) / (n - 1), 0.0) AS v
  FROM m
)
SELECT event_type, n,
       CAST(round(s1 / n, 6) AS DOUBLE) AS mean_gap_s,
       CAST(round(sqrt(v) / nullif(s1 / n, 0.0), 6) AS DOUBLE) AS cv,
       CAST(round((sqrt(v) - s1 / n)
                  / nullif(sqrt(v) + s1 / n, 0.0), 6) AS DOUBLE)
         AS burstiness
FROM m2"""


def q_zipf_token_fit(dialect: str) -> str:
    """Zipf's-law diagnostics of the token distribution: OLS slope of
    ln(freq) on ln(rank) over the top-30 vocabulary (a healthy natural
    corpus fits ~ -1; synthetic/templated text flattens) plus r^2.  The
    libm ln() values feed ONLY power sums whose final expressions round
    to 6 (the linreg convention) — a 1-ulp ln() divergence cannot
    surface.  Token counting is one explode + hash agg; the regression
    runs over 30 rows."""
    norm = (
        "regexp_replace(lower(trim(text)), '\\\\s+', ' ')"
        if dialect == "spark"
        else "regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')"
    )
    if dialect == "spark":
        tk = (f"SELECT tok FROM documents "
              f"LATERAL VIEW explode(split({norm}, ' ')) AS tok")
    else:
        tk = (f"SELECT unnest(string_split({norm}, ' ')) AS tok "
              f"FROM documents")
    return f"""
WITH tk AS ({tk}),
freq AS (SELECT tok, count(*) AS f FROM tk GROUP BY tok),
rk AS (
  SELECT f, row_number() OVER (ORDER BY f DESC, tok) AS rank
  FROM freq
),
pts AS (
  SELECT ln(CAST(rank AS DOUBLE)) AS x, ln(CAST(f AS DOUBLE)) AS y
  FROM rk WHERE rank <= 30
),
m AS (
  SELECT count(*) AS n,
         {dsum("x", 6)} AS sx, {dsum("y", 6)} AS sy,
         {dsum("x * x", 6)} AS sxx, {dsum("y * y", 6)} AS syy,
         {dsum("x * y", 6)} AS sxy
  FROM pts
)
SELECT n,
       CAST(round((n * sxy - sx * sy)
                  / nullif(n * sxx - sx * sx, 0.0), 6) AS DOUBLE)
         AS zipf_slope,
       CAST(round(((n * sxy - sx * sy) * (n * sxy - sx * sy))
                  / nullif((n * sxx - sx * sx) * (n * syy - sy * sy), 0.0),
                  6) AS DOUBLE) AS r2
FROM m"""


ANALYTICS_EXT_QUERIES = {
    "downsample_m4_daily": q_downsample_m4_daily,
    "weighted_sample_ares": q_weighted_sample_ares,
    "gini_customer_revenue": q_gini_customer_revenue,
    "heatmap_dow_hour": q_heatmap_dow_hour,
    "burstiness_interarrival": q_burstiness_interarrival,
    "zipf_token_fit": q_zipf_token_fit,
    "anomaly_zscore_daily": q_anomaly_zscore_daily,
    "reservoir_sample_events": q_reservoir_sample_events,
    "skew_key_profile": q_skew_key_profile,
    # equidepth_histogram_value moved to a DataFrame builder
    # (q_equidepth_histogram_df, registered in plans.dataframe_queries) —
    # the spark-dialect ntile would plan a single-partition WindowExec
    # over the whole events table
    "interleave_mix_batches": q_interleave_mix_batches,
    "embedding_centroids_by_label": q_embedding_centroids_by_label,
    "source_mix_entropy": q_source_mix_entropy,
    "range_frame_trailing_3d": q_range_frame_trailing_3d,
    "rolling_distinct_users_7d": q_rolling_distinct_users_7d,
}
