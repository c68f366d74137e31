"""Retrieval, layout, and governance coverage: BM25 ranked search,
exact-match decontamination, hashing-trick quality classification,
k-anonymity profiling, lag autocorrelation, and Z-order layout locality.

Same one-template-two-dialects scheme as portable_sql.  Determinism
contract per query:

- bm25_search_topk: every BM25 input (tf, df, dl, N, sum(dl)) is an exact
  integer; idf/tf-norm are double functions of identical rationals, the
  3 query-term contributions add in a FIXED order (pivoted columns, not a
  SUM over an unordered term relation), and the published score is
  floor-scaled to micros with (score, doc_id) total order for the top-k
  cut (the unigram_nll discipline — floor of identical doubles agrees
  across engines, round() half-cases don't).
- decontam_exact_match / k_anonymity_profile: pure integer counting.
- quality_classifier_hashed: token weights are md5-derived integer
  micro-units; the doc score is a single integer-ratio floor.
- acf_value_lags: daily series and all power sums are exact decimals
  (dsum contract); the Pearson quotient rounds to 6.
- zorder_locality: bit interleaving and span accounting are integer math;
  the per-chunk averages are integer ratios rounded to 4.

Scale notes (100 TB discipline):
- bm25: the term filter prunes the exploded postings BEFORE any shuffle
  (predicate on the unnest output); tf/dl aggregations are linear hash
  aggs; df and corpus stats are scalar; the final is a top-k
  (TakeOrdered in Spark) — no global sort materialized.
- decontam_exact_match: one md5 per doc, hash semi-join on the (tiny)
  benchmark side — broadcastable at any corpus size since benchmarks are
  bounded.
- quality_classifier_hashed: explode -> hash agg by doc; weight lookup is
  pure column math (hashing trick: NO vocabulary table to join or ship,
  the property that makes this the standard 100 TB quality filter).
- k_anonymity: two stacked hash aggs, output = O(#thresholds).
- acf: daily pre-aggregation bounds the series to O(days); the lag joins
  run on that tiny relation.
- zorder: the z-key is pure column math; chunk stats are one window +
  one hash agg per ordering.  (At 100 TB the same key feeds a
  repartitionByRange write — the query measures WHY: locality per file.)
"""

from __future__ import annotations

from summarydb_spark.plans.portable_dedup import _norm, md560
from summarydb_spark.plans.portable_sql import dsum, epoch_us

BM25_TERMS = ("spark", "window", "dup")
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOPK = 20


def _split_tokens(dialect: str, expr: str = "text") -> str:
    return (
        f"split({expr}, ' ')" if dialect == "spark"
        else f"string_split({expr}, ' ')"
    )


def _explode_tokens(dialect: str, expr: str = "text") -> str:
    return (
        f"explode(split({expr}, ' '))" if dialect == "spark"
        else f"unnest(string_split({expr}, ' '))"
    )


def q_bm25_search_topk(dialect: str) -> str:
    """BM25 (k1=1.2, b=0.75) ranked retrieval for a fixed 3-term query over
    the documents table, top-20 by floor-scaled score.

    The per-term contributions pivot to fixed columns so the doc score is
    a fixed-order double expression (SUM over an unordered per-term
    relation could reassociate).  Scoring only touches docs containing at
    least one query term; dl/avgdl come from one corpus token pass.
    """
    # dl and every per-term tf are higher-order-function column math over
    # the token array — NO explode, NO shuffle on the corpus side; the only
    # exchange is the tiny corpus-stats aggregate that cross-joins back
    # (broadcast of one row).
    toks = _split_tokens(dialect)
    if dialect == "spark":
        tf_cols = ",\n         ".join(
            f"CAST(size(filter(toks, x -> x = '{t}')) AS BIGINT) AS tf{i}"
            for i, t in enumerate(BM25_TERMS)
        )
        dl_col = "CAST(size(toks) AS BIGINT) AS dl"
    else:
        tf_cols = ",\n         ".join(
            f"CAST(len(list_filter(toks, x -> x = '{t}')) AS BIGINT) AS tf{i}"
            for i, t in enumerate(BM25_TERMS)
        )
        dl_col = "CAST(len(toks) AS BIGINT) AS dl"
    stat_cols = ",\n         ".join(
        [
            "count(*) AS n_docs",
            "CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl",
        ]
        + [
            f"sum(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS df{i}"
            for i in range(len(BM25_TERMS))
        ]
    )

    def contrib(i: int) -> str:
        # idf * tf*(k1+1) / (tf + k1*(1-b+b*dl/avgdl)); 0 when tf=0
        return (
            f"(CASE WHEN tf{i} = 0 THEN 0.0 ELSE "
            f"ln(1.0 + (n_docs - df{i} + 0.5) / (df{i} + 0.5)) "
            f"* (tf{i} * {BM25_K1 + 1.0}) "
            f"/ (tf{i} + {BM25_K1} * (1.0 - {BM25_B} + {BM25_B} * dl / avgdl))"
            f" END)"
        )

    score = " + ".join(contrib(i) for i in range(len(BM25_TERMS)))
    any_tf = " + ".join(f"tf{i}" for i in range(len(BM25_TERMS)))
    return f"""
WITH tok AS (
  SELECT doc_id, {toks} AS toks FROM documents
),
per_doc AS (
  SELECT doc_id, {dl_col},
         {tf_cols}
  FROM tok
),
corpus AS (
  SELECT {stat_cols} FROM per_doc
),
scored AS (
  SELECT doc_id, dl,
         CAST(floor(({score}) * 1000000) AS BIGINT) AS score_micro
  FROM per_doc CROSS JOIN corpus
  WHERE {any_tf} > 0
)
SELECT doc_id, dl AS doc_len, score_micro
FROM scored
ORDER BY score_micro DESC, doc_id
LIMIT {BM25_TOPK}"""


def q_decontam_exact_match(dialect: str) -> str:
    """Exact-match decontamination: the benchmark set is the doc_id % 13
    == 0 slice (normalized md5 fingerprints); report, per training-side
    source, how many docs exactly match a benchmark fingerprint.  The
    normalized-hash semi-join is the first gate of every decontamination
    stack (before the n-gram containment stage, decontam_ngram_containment)
    — at 100 TB the benchmark side is tiny and broadcast."""
    n = _norm(dialect)
    return f"""
WITH h AS (
  SELECT doc_id, source, md5({n}) AS fp FROM documents
),
bench AS (
  SELECT DISTINCT fp FROM h WHERE doc_id % 13 = 0
),
train AS (
  SELECT * FROM h WHERE doc_id % 13 <> 0
)
SELECT t.source,
       count(*) AS n_train,
       CAST(sum(CASE WHEN b.fp IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_contaminated,
       CAST(CAST(sum(CASE WHEN b.fp IS NOT NULL THEN 1 ELSE 0 END)
                 AS BIGINT) * 1000000 / count(*) AS BIGINT)
         AS contamination_ppm
FROM train t LEFT JOIN bench b ON b.fp = t.fp
GROUP BY t.source"""


def q_quality_classifier_hashed(dialect: str) -> str:
    """Hashing-trick linear quality classifier (the fastText-style filter
    of pre-training pipelines): each token's weight is an md5-derived
    integer micro-unit in [-1e6, 1e6] — NO vocabulary table exists, so the
    scorer is pure column math that ships nothing and joins nothing.  The
    doc score is the floor of the integer mean; docs land in 20k-micro
    buckets, profiled per language."""
    un = _explode_tokens(dialect)
    w = md560("w", dialect)
    return f"""
WITH ex AS (
  SELECT doc_id, lang, {un} AS w FROM documents
),
wt AS (
  SELECT doc_id, lang, ({w} % 2000001) - 1000000 AS wmicro FROM ex
),
doc AS (
  SELECT doc_id, lang, count(*) AS n_tokens,
         CAST(floor(CAST(sum(wmicro) AS DOUBLE) / count(*)) AS BIGINT)
           AS score_micro
  FROM wt GROUP BY doc_id, lang
)
SELECT lang,
       CAST(floor(score_micro / 20000.0) AS BIGINT) AS score_bucket,
       count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       CAST(min(score_micro) AS BIGINT) AS min_score_micro,
       CAST(max(score_micro) AS BIGINT) AS max_score_micro
FROM doc
GROUP BY lang, CAST(floor(score_micro / 20000.0) AS BIGINT)"""


K_ANON_THRESHOLDS = (2, 5, 10, 25)


def q_k_anonymity_profile(dialect: str) -> str:
    """k-anonymity audit over the (nation, market-segment) quasi-identifier:
    for each threshold k, how many equivalence classes and rows fall below
    it (rows in classes smaller than k are re-identifiable at that k).
    Pure integer counting: one hash agg builds the class sizes, a constant
    threshold spine cross-joins the O(#classes) output."""
    vals = ", ".join(f"({k})" for k in K_ANON_THRESHOLDS)
    return f"""
WITH g AS (
  SELECT c_nationkey, c_mktsegment, count(*) AS k
  FROM customer GROUP BY c_nationkey, c_mktsegment
),
tot AS (
  SELECT count(*) AS n_groups, sum(k) AS n_rows FROM g
)
SELECT t.k_min,
       CAST(sum(CASE WHEN g.k < t.k_min THEN 1 ELSE 0 END) AS BIGINT)
         AS groups_below,
       CAST(sum(CASE WHEN g.k < t.k_min THEN g.k ELSE 0 END) AS BIGINT)
         AS rows_below,
       CAST(max(tot.n_groups) AS BIGINT) AS n_groups,
       CAST(CAST(sum(CASE WHEN g.k < t.k_min THEN g.k ELSE 0 END) * 1000000
                 AS BIGINT) / max(tot.n_rows) AS BIGINT)
         AS rows_below_ppm
FROM g CROSS JOIN (VALUES {vals}) AS t(k_min) CROSS JOIN tot
GROUP BY t.k_min"""


L_DIV_THRESHOLDS = (2, 3, 5, 10)


def q_l_diversity_profile(dialect: str) -> str:
    """l-diversity audit — the companion governance check to
    :func:`q_k_anonymity_profile` (Machanavajjhala et al., TKDD 2007):
    a k-anonymous class is still attribute-disclosing when everyone in
    it shares the SENSITIVE value, so each (nation, market-segment)
    equivalence class is scored by the number of DISTINCT sensitive
    values it contains (account-balance k$-bucket as the sensitive
    attribute), and the profile reports, per threshold l, the classes
    and rows below it.  Pure integer counting over one hash aggregate;
    the threshold spine cross-joins the O(#classes) output."""
    vals = ", ".join(f"({l})" for l in L_DIV_THRESHOLDS)
    return f"""
WITH g AS (
  SELECT c_nationkey, c_mktsegment, count(*) AS k,
         count(DISTINCT CAST(floor(CAST(c_acctbal AS DOUBLE) / 1000.0)
                             AS BIGINT)) AS l
  FROM customer GROUP BY c_nationkey, c_mktsegment
),
tot AS (
  SELECT count(*) AS n_groups, sum(k) AS n_rows FROM g
)
SELECT t.l_min,
       CAST(sum(CASE WHEN g.l < t.l_min THEN 1 ELSE 0 END) AS BIGINT)
         AS groups_below,
       CAST(sum(CASE WHEN g.l < t.l_min THEN g.k ELSE 0 END) AS BIGINT)
         AS rows_below,
       CAST(max(tot.n_groups) AS BIGINT) AS n_groups,
       CAST(CAST(sum(CASE WHEN g.l < t.l_min THEN g.k ELSE 0 END) * 1000000
                 AS BIGINT) / max(tot.n_rows) AS BIGINT)
         AS rows_below_ppm
FROM g CROSS JOIN (VALUES {vals}) AS t(l_min) CROSS JOIN tot
GROUP BY t.l_min"""


ACF_LAGS = (1, 2, 3, 4, 5, 6, 7)


def q_acf_value_lags(dialect: str) -> str:
    """Sample autocorrelation of the daily value series at lags 1..7 —
    the seasonality probe behind every forecasting/monitoring stack.
    The daily series is an exact rounded decimal (dsum contract); each
    lag's Pearson corr comes from decimal power sums over the lag-joined
    pairs (corr_quantity_price discipline), so the quotient inputs are
    bit-identical across engines and partitionings."""
    t = epoch_us("ts", dialect)
    vals = ", ".join(f"({l})" for l in ACF_LAGS)
    return f"""
WITH daily AS (
  SELECT CAST(floor(({t}) / 86400000000.0) AS BIGINT) AS d,
         {dsum("value")} AS s
  FROM events GROUP BY CAST(floor(({t}) / 86400000000.0) AS BIGINT)
),
pairs AS (
  SELECT l.lag, a.s AS x, b.s AS y
  FROM (SELECT * FROM (VALUES {vals}) AS v(lag)) l
  JOIN daily a ON TRUE
  JOIN daily b ON b.d = a.d - l.lag
),
m AS (
  SELECT lag, count(*) AS n,
         {dsum("x")} AS sx, {dsum("y")} AS sy,
         {dsum("x * x", 2)} AS sxx, {dsum("y * y", 2)} AS syy,
         {dsum("x * y", 2)} AS sxy
  FROM pairs GROUP BY lag
)
SELECT lag, n,
       CAST(round((n * sxy - sx * sy)
             / nullif(sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 0.0),
             6) AS DOUBLE) AS acf
FROM m
ORDER BY lag"""


def _zkey(dialect: str, ub: str, db: str) -> str:
    """8-bit Morton interleave of two 4-bit bucket ids (ub bits land on odd
    positions, db on even)."""
    parts = []
    for i in range(4):
        if dialect == "spark":
            parts.append(f"shiftleft(shiftright({ub}, {i}) & 1, {2 * i + 1})")
            parts.append(f"shiftleft(shiftright({db}, {i}) & 1, {2 * i})")
        else:
            parts.append(f"((({ub} >> {i}) & 1) << {2 * i + 1})")
            parts.append(f"((({db} >> {i}) & 1) << {2 * i})")
    return " + ".join(parts)


def zorder_z_sql(dialect: str) -> str:
    """The z-keyed event relation (event_id, ub, db, zkey) both the oracle
    SQL and the Spark DataFrame plan build on — factored so the Morton
    interleave has exactly one definition per dialect."""
    t = epoch_us("ts", dialect)
    return f"""
SELECT event_id, ub, db, CAST({_zkey(dialect, "ub", "db")} AS BIGINT) AS zkey
FROM (
  SELECT event_id,
         CAST(user_id % 16 AS BIGINT) AS ub,
         CAST(floor(({t}) / 86400000000.0) AS BIGINT) % 16 AS db
  FROM events
) b"""


def q_zorder_locality(dialect: str) -> str:
    """Z-order (Morton) layout locality audit: interleave 4-bit buckets of
    (user, day) into an 8-bit z-key, split the table into 256-row "files"
    under (a) arrival order and (b) z-order, and compare per-file locality
    — distinct user-buckets touched and day-bucket span.  Lower spans =
    better file skipping for either predicate dimension; this is the
    measurement that justifies a repartitionByRange(zkey) rewrite of a
    100 TB table (multi-dimensional clustering à la Delta OPTIMIZE
    ZORDER).  Integer math throughout; per-file averages are integer
    ratios rounded to 4.

    This SQL form is the DUCKDB oracle; the registered Spark plan is
    :func:`q_zorder_locality_df`, which replaces the two global
    ``row_number() OVER (ORDER BY ...)`` windows below (each a
    single-partition sort of the whole fact table — fine in DuckDB's
    in-memory oracle role, a one-task bottleneck on a cluster) with the
    two-pass partition-offset rank (operators/shuffle_tools.running_sum of
    1 per row, plus 1)."""
    return f"""
WITH z AS ({zorder_z_sql(dialect)}),
chunked AS (
  SELECT 'arrival' AS ordering,
         CAST(floor((row_number() OVER (ORDER BY event_id) - 1) / 256.0)
              AS BIGINT) AS chunk, ub, db
  FROM z
  UNION ALL
  SELECT 'zorder' AS ordering,
         CAST(floor((row_number() OVER (ORDER BY zkey, event_id) - 1) / 256.0)
              AS BIGINT) AS chunk, ub, db
  FROM z
),
per_chunk AS (
  SELECT ordering, chunk,
         count(DISTINCT ub) AS users_touched,
         max(db) - min(db) AS day_span
  FROM chunked GROUP BY ordering, chunk
)
SELECT ordering,
       count(*) AS n_chunks,
       CAST(round(sum(users_touched) * 1.0 / count(*), 4) AS DOUBLE)
         AS avg_user_buckets,
       CAST(round(sum(day_span) * 1.0 / count(*), 4) AS DOUBLE)
         AS avg_day_span,
       CAST(max(users_touched) AS BIGINT) AS max_user_buckets
FROM per_chunk
GROUP BY ordering"""


def q_zorder_locality_df(spark, sf_dir: str):
    """Spark-side zorder_locality (see :func:`q_zorder_locality` for the
    semantics and the DuckDB oracle): identical relation, but the two
    exact global ranks (arrival by event_id, z-order by (zkey, event_id))
    come from the two-pass partition-offset index
    (operators/shuffle_tools.running_sum of 1 per row, i.e. rank - 1)
    instead of unpartitioned row_number windows, so no single task ever
    holds the fact table.  Ranks are exact (total orders — event_id is
    unique), so chunk assignment and every downstream aggregate are
    bit-identical to the window form; chunk = index div 256 is the
    integer twin of floor((rank-1)/256.0).  The z relation is scanned
    twice per ordering (the range partitioner's sample + the shuffle) —
    column-pruned parquet scans, the price of never materializing a
    global sort on one task."""
    from pyspark.sql import functions as F

    from summarydb_spark.operators.shuffle_tools import running_sum
    from summarydb_spark.sources.tables import register_tables

    register_tables(spark, sf_dir)
    z = spark.sql(zorder_z_sql("spark"))
    legs = []
    for ordering, cols in (
        ("arrival", ["event_id"]),
        ("zorder", ["zkey", "event_id"]),
    ):
        r = running_sum(z, cols, out_col="_ix")
        legs.append(
            r.select(
                F.lit(ordering).alias("ordering"),
                F.expr("_ix div 256").alias("chunk"),
                "ub",
                "db",
            )
        )
    per_chunk = (
        legs[0]
        .unionByName(legs[1])
        .groupBy("ordering", "chunk")
        .agg(
            F.countDistinct("ub").alias("users_touched"),
            (F.max("db") - F.min("db")).alias("day_span"),
        )
    )
    return per_chunk.groupBy("ordering").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.expr(
            "CAST(round(sum(users_touched) * 1.0 / count(*), 4) AS DOUBLE)"
        ).alias("avg_user_buckets"),
        F.expr(
            "CAST(round(sum(day_span) * 1.0 / count(*), 4) AS DOUBLE)"
        ).alias("avg_day_span"),
        F.expr("CAST(max(users_touched) AS BIGINT)").alias("max_user_buckets"),
    )


def _rrf_scored_sql(dialect: str) -> tuple[str, str]:
    """The two SCORED (pre-rank) relations hybrid RRF fuses, factored so
    the DuckDB oracle (window ranks) and the Spark plan (two-phase
    running_sum) share one scoring definition: ``(text_sql, dense_sql)``
    emitting (doc_id, s BIGINT) and (doc_id, cosv DOUBLE)."""
    toks = _split_tokens(dialect)
    if dialect == "spark":
        tf_cols = ",".join(
            f"CAST(size(filter(toks, x -> x = '{t}')) AS BIGINT) AS tf{i}"
            for i, t in enumerate(BM25_TERMS)
        )
        dl_col = "CAST(size(toks) AS BIGINT) AS dl"
    else:
        tf_cols = ",".join(
            f"CAST(len(list_filter(toks, x -> x = '{t}')) AS BIGINT) AS tf{i}"
            for i, t in enumerate(BM25_TERMS)
        )
        dl_col = "CAST(len(toks) AS BIGINT) AS dl"
    # the integer milli-unit embedding explode is the SAME quantization
    # the PCA uses — shared helper so the exactness contract has one home
    from summarydb_spark.plans.linalg_ext import _vm

    vm_rel = _vm(dialect)
    stat_cols = ",".join(
        ["count(*) AS n_docs", "CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl"]
        + [
            f"sum(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS df{i}"
            for i in range(len(BM25_TERMS))
        ]
    )

    def contrib(i: int) -> str:
        return (
            f"(CASE WHEN tf{i} = 0 THEN 0.0 ELSE "
            f"ln(1.0 + (n_docs - df{i} + 0.5) / (df{i} + 0.5)) "
            f"* (tf{i} * {BM25_K1 + 1.0}) "
            f"/ (tf{i} + {BM25_K1} * (1.0 - {BM25_B} + {BM25_B} * dl / avgdl))"
            f" END)"
        )

    score = " + ".join(contrib(i) for i in range(len(BM25_TERMS)))
    any_tf = " + ".join(f"tf{i}" for i in range(len(BM25_TERMS)))
    text_sql = f"""
WITH tok AS (SELECT doc_id, {toks} AS toks FROM documents),
per_doc AS (SELECT doc_id, {dl_col}, {tf_cols} FROM tok),
corpus AS (SELECT {stat_cols} FROM per_doc)
SELECT doc_id, CAST(floor(({score}) * 1000000) AS BIGINT) AS s
FROM per_doc CROSS JOIN corpus
WHERE {any_tf} > 0 AND doc_id <> 0"""
    # doc 0 IS the probe (doc_id == vec_id): excluded from BOTH rankings,
    # not just the dense one — self-retrieval is not a result
    dense_sql = f"""
WITH e AS ({vm_rel}),
probe AS (SELECT idx, vm FROM e WHERE vec_id = 0),
pn AS (SELECT sum(vm * vm) AS nb FROM probe),
dots AS (
  SELECT e.vec_id AS doc_id,
         CAST(sum(e.vm * p.vm) AS BIGINT) AS dot,
         CAST(sum(e.vm * e.vm) AS BIGINT) AS na
  FROM e JOIN probe p ON p.idx = e.idx
  WHERE e.vec_id <> 0
  GROUP BY e.vec_id
)
SELECT doc_id,
       CAST(dot AS DOUBLE)
         / sqrt(CAST(na AS DOUBLE) * CAST(pn.nb AS DOUBLE)) AS cosv
FROM dots, pn
WHERE na > 0 AND pn.nb > 0"""
    return text_sql, dense_sql


def q_hybrid_rrf_fusion(dialect: str) -> str:
    """Hybrid retrieval via reciprocal-rank fusion (RRF, Cormack et al.
    SIGIR'09): fuse the BM25 lexical ranking (same terms/parameters as
    bm25_search_topk) with a dense ranking — quantized-cosine similarity
    to the probe embedding (vec 0; doc_id == vec_id in the testdata) —
    as rrf = sum over systems floor(1e6 / (60 + rank)), top-15.

    Determinism: cosine operates on integer milli-unit components (exact
    BIGINT dot products and norms; IEEE sqrt is correctly rounded, so
    the double similarity is bit-identical across engines); BM25 reuses
    the proven fixed-order score expression; every ranking ties off by
    doc_id; fusion arithmetic is integer.

    This SQL form is the DUCKDB oracle; the registered Spark plan is
    :func:`q_hybrid_rrf_fusion_df`, which derives both system ranks from
    the two-phase partition-offset global rank (the unpartitioned
    row_number windows below would each plan a single-partition
    WindowExec over corpus-sized relations).  The fusion joins the two
    rank relations on doc_id and cuts top-15 with a TakeOrdered."""
    text_sql, dense_sql = _rrf_scored_sql(dialect)
    return f"""
WITH ts AS ({text_sql}),
ds AS ({dense_sql}),
r_text AS (
  SELECT doc_id, row_number() OVER (ORDER BY s DESC, doc_id) AS r
  FROM ts
),
r_dense AS (
  SELECT doc_id, row_number() OVER (ORDER BY cosv DESC, doc_id) AS r
  FROM ds
),
fused AS (
  SELECT coalesce(t.doc_id, d.doc_id) AS doc_id,
         CAST(coalesce(t.r, 0) AS BIGINT) AS rank_text,
         CAST(coalesce(d.r, 0) AS BIGINT) AS rank_dense,
         CAST(CASE WHEN t.r IS NULL THEN 0
                   ELSE floor(1000000.0 / (60 + t.r)) END
            + CASE WHEN d.r IS NULL THEN 0
                   ELSE floor(1000000.0 / (60 + d.r)) END AS BIGINT)
           AS rrf_micro
  FROM r_text t
  FULL OUTER JOIN r_dense d ON d.doc_id = t.doc_id
)
SELECT doc_id, rank_text, rank_dense, rrf_micro
FROM fused
ORDER BY rrf_micro DESC, doc_id
LIMIT 15"""


def q_hybrid_rrf_fusion_df(spark, sf_dir: str):
    """Spark-side hybrid_rrf_fusion (see :func:`q_hybrid_rrf_fusion` for
    semantics and the DuckDB oracle): the scored relations come from the
    shared SQL (:func:`_rrf_scored_sql`), each system's exact rank from
    1 + operators/shuffle_tools.running_sum over (score DESC, doc_id) — a
    range shuffle + partition-offset fixup, never a one-task sort of the
    candidate relation — and the fusion is a doc_id equi-join with the
    oracle's own rrf expression text, cut by TakeOrdered top-15."""
    from pyspark.sql import functions as F

    from summarydb_spark.operators.shuffle_tools import running_sum
    from summarydb_spark.sources.tables import register_tables

    register_tables(spark, sf_dir)
    text_sql, dense_sql = _rrf_scored_sql("spark")
    rt = running_sum(
        spark.sql(text_sql), [F.col("s").desc(), F.col("doc_id")], out_col="r"
    ).select(F.col("doc_id").alias("t_doc"), (F.col("r") + 1).alias("t_r"))
    rd = running_sum(
        spark.sql(dense_sql),
        [F.col("cosv").desc(), F.col("doc_id")],
        out_col="r",
    ).select(F.col("doc_id").alias("d_doc"), (F.col("r") + 1).alias("d_r"))
    fused = rt.join(rd, rt.t_doc == rd.d_doc, "full_outer").select(
        F.expr("coalesce(t_doc, d_doc)").alias("doc_id"),
        F.expr("CAST(coalesce(t_r, 0) AS BIGINT)").alias("rank_text"),
        F.expr("CAST(coalesce(d_r, 0) AS BIGINT)").alias("rank_dense"),
        F.expr(
            "CAST(CASE WHEN t_r IS NULL THEN 0"
            " ELSE floor(1000000.0 / (60 + t_r)) END"
            " + CASE WHEN d_r IS NULL THEN 0"
            " ELSE floor(1000000.0 / (60 + d_r)) END AS BIGINT)"
        ).alias("rrf_micro"),
    )
    return fused.orderBy(F.desc("rrf_micro"), "doc_id").limit(15)


RETRIEVAL_EXT_QUERIES = {
    "bm25_search_topk": q_bm25_search_topk,
    # hybrid_rrf_fusion moved to a DataFrame builder (q_hybrid_rrf_fusion_df,
    # registered in plans.dataframe_queries) — the spark-dialect SQL form
    # would plan single-partition WindowExec ranks over corpus-sized relations
    "decontam_exact_match": q_decontam_exact_match,
    "quality_classifier_hashed": q_quality_classifier_hashed,
    "k_anonymity_profile": q_k_anonymity_profile,
    "l_diversity_profile": q_l_diversity_profile,
    "acf_value_lags": q_acf_value_lags,
    # zorder_locality moved to a DataFrame builder (q_zorder_locality_df,
    # registered in plans.dataframe_queries) — the spark-dialect SQL form
    # would plan two single-partition WindowExec sorts of the fact table
}
