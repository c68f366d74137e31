"""Deduplication operator family, designed for 100 TB corpora.

Every algorithm follows the scale-safe shape

    per-row signature (JVM column math, no shuffle)
      -> banding / bucketing (one shuffle on small keys)
      -> candidate pairs within buckets (bounded blowup)
      -> exact verification on candidates only

so the quadratic step only ever runs inside hash buckets.  No Python UDFs:
signatures are nested higher-order functions (transform/aggregate/xxhash64),
which stay inside whole-stage codegen.

Operators:
- exact_dedup          hash-groupBy on normalized content (baseline)
- minhash_signatures / minhash_lsh_pairs    MinHash + banded LSH (Jaccard)
- simhash / simhash_pairs                   64-bit SimHash (Hamming)
- embedding_near_dups                       cosine near-dup via random
                                            hyperplane LSH + exact verify
"""

from __future__ import annotations

from typing import Optional

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from summarydb_spark.functions.text import normalize_text
from summarydb_spark.operators import cache_scope

# 31-bit Mersenne prime: products a*x stay below 2^62, so the universal
# hash works in int64 without tripping ANSI overflow checks.
MERSENNE_31 = (1 << 31) - 1


def shingles(text: Column, k: int = 3) -> Column:
    """Distinct k-token shingles of normalized text (JVM column math)."""
    toks = F.split(normalize_text(text), " ")
    n = F.size(toks)
    return F.when(
        n >= k,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), n - k),
                lambda i: F.concat_ws(" ", F.slice(toks, i + 1, k)),
            )
        ),
    ).otherwise(F.array(F.concat_ws(" ", toks)))


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup on normalized content hash; keeps the smallest id per
    group.  One hash-aggregate shuffle; scales linearly."""
    h = F.md5(normalize_text(F.col(text_col)))
    w = df.withColumn("content_hash", h)
    keepers = w.groupBy("content_hash").agg(F.min(id_col).alias("_keeper"))
    # left join + coalesce: a NULL text hashes to NULL, which an inner
    # equi-join would silently DELETE from the corpus; nullness is its own
    # quality dimension (dq convention), not content equality — NULL-text
    # rows pass through as non-duplicates
    return (
        w.join(keepers, "content_hash", "left")
        .withColumn(
            "is_duplicate",
            F.coalesce(F.col(id_col) != F.col("_keeper"), F.lit(False)),
        )
        .drop("_keeper")
    )


def _content_digest(*cols: Column) -> Column:
    """Unambiguous 128-bit content key of the given columns: JSON-encode a
    struct of them (escaping makes concatenation ambiguity impossible for
    arrays of strings), then md5.  Used to cluster IDENTICAL contents
    before LSH banding; collision probability is birthday-bounded at
    n^2/2^129 (~4e-15 even at 10^12 documents), far below the banding
    miss bounds the pair operators already disclose."""
    return F.md5(F.to_json(F.struct(*cols)))


# Guard-internal relations (narrow member/bucket maps) persist through
# ``operators.cache_scope.persist``: a long-lived session that runs the
# guard over many DISTINCT corpora accumulates one cached plan per
# distinct input (CacheManager dedupes only identical plans), so scope
# each corpus with ``transient_cache_scope()`` or call
# ``release_transient_caches()`` between corpora.  Within one corpus the
# cache is load-bearing (the expansion reads members from up to four
# plan branches), so nothing is unpersisted eagerly.


def _collapse_members(
    narrow: DataFrame,
    id_col: str = "_id",
    flag_col: Optional[str] = None,
    persist: bool = True,
):
    """Hot-bucket guard, step 1: map every row to its cluster
    REPRESENTATIVE (min id per distinct content key ``_ck``).

    Input: a NARROW relation ``(_ck, id_col[, flag_col, ...])`` — the
    content digest plus the id; heavy payload columns (shingle arrays,
    vectors) must stay out of it, they never need to move for the
    collapse.  Returns ``(members, rid_map)``:

    - ``members``: ``(_rid, id_col[, flag_col])`` member-to-rep mapping.
    - ``rid_map``: one row per cluster ``(_ck, _rid[, _cfb])``; ``_cfb``
      is the cluster-level OR of the flags (any member flagged), the
      superset gate for delta maintenance (the exact per-member filter
      happens at expansion).

    Why: a web-scale corpus has exact-duplicate clusters in the 1e4-1e6
    range; banding every member puts E ids into one bucket in EVERY band,
    and any in-bucket pair expansion then does E^2/2 work x bands (and,
    in the collect_list form, builds an E-length array in a single
    executor row).  Collapsing to representatives makes candidate
    generation linear in DISTINCT contents — identical contents produce
    identical signatures (the signature is a deterministic function of
    content), so the rep-level candidate relation maps 1:1 onto the
    member-level one and nothing is lost.  The collapse itself is a
    monoid fold (min-id / any-flag per content), the reference's
    mergeable-aggregate contract (core/op_set.go:44-60).  Shape: one
    partial-aggregated groupBy on the digest (the hot key collapses
    map-side) + one narrow join back — both skew-safe under AQE.
    """
    fcols = [flag_col] if flag_col else []
    aggs = [F.min(id_col).alias("_rid")]
    if flag_col:
        aggs.append(F.max(F.col(flag_col)).alias("_cfb"))
    rid_map = narrow.groupBy("_ck").agg(*aggs)
    # persisted by default: the pair expansion reads members from up to
    # four plan branches (cross a/b sides + intra x/y sides); without a
    # shared materialization each branch re-runs the digest + groupBy +
    # join.  Narrow rows only; CacheManager dedupes repeated calls by
    # plan.  Single-consumer callers (the asymmetric probe) pass
    # persist=False.
    members = narrow.join(rid_map.select("_ck", "_rid"), "_ck").select(
        "_rid", id_col, *fcols
    )
    if persist:
        members = cache_scope.persist(members)
    return members, rid_map


def _expand_member_pairs(
    rep_pairs: DataFrame,
    members: DataFrame,
    payload_cols: tuple,
    intra_df: Optional[DataFrame],
    flag_col: Optional[str] = None,
    id_col: str = "_id",
) -> DataFrame:
    """Hot-bucket guard, step 2: expand representative-level pairs
    ``(id_a, id_b, *payload_cols)`` back to member-level pairs.

    - CROSS-cluster pairs: two narrow equi-joins against ``members``;
      each unordered member pair appears exactly once (clusters are
      disjoint and rep pairs are deduplicated), emitted as
      (least, greatest).  The payload (similarity) computed once on the
      reps is exact for every expanded pair because members are
      content-identical to their rep.
    - INTRA-cluster pairs: emitted ARITHMETICALLY — a members self-join
      on ``_rid`` with id_a < id_b, payload taken from ``intra_df``
      (``(_rid, *payload_cols)``, e.g. jaccard=1.0 / hamming=0 /
      the rep's self-cosine); pass ``intra_df=None`` to skip (asymmetric
      joins have no intra side).  This replaces quadratic in-bucket
      banding work with a streamed join whose output is the pair
      relation itself — linear candidate generation, no E-length bucket
      arrays, no x-bands duplication.

    ``flag_col``: members carry a boolean flag and only pairs with at
    least one flagged endpoint are emitted (delta maintenance)."""
    fcols = [flag_col] if flag_col else []
    ma = members.select(
        F.col("_rid").alias("id_a"),
        F.col(id_col).alias("_ma"),
        *[F.col(c).alias("_fa") for c in fcols],
    )
    mb = members.select(
        F.col("_rid").alias("id_b"),
        F.col(id_col).alias("_mb"),
        *[F.col(c).alias("_fxb") for c in fcols],
    )
    cross = rep_pairs.join(ma, "id_a").join(mb, "id_b")
    if flag_col:
        cross = cross.where(F.col("_fa") | F.col("_fxb"))
    cross = cross.select(
        F.least("_ma", "_mb").alias("id_a"),
        F.greatest("_ma", "_mb").alias("id_b"),
        *payload_cols,
    )
    if intra_df is None:
        return cross
    x = members.select(
        "_rid",
        F.col(id_col).alias("id_a"),
        *[F.col(c).alias("_fa") for c in fcols],
    )
    y = members.select(
        "_rid",
        F.col(id_col).alias("id_b"),
        *[F.col(c).alias("_fxb") for c in fcols],
    )
    intra = x.join(y, "_rid").where(F.col("id_a") < F.col("id_b"))
    if flag_col:
        intra = intra.where(F.col("_fa") | F.col("_fxb"))
    intra = intra.join(intra_df, "_rid").select(
        "id_a", "id_b", *payload_cols
    )
    return cross.unionByName(intra)


def _hash_params(num_hashes: int, seed: int) -> list:
    """Deterministic (a, b) pairs for the universal hash family
    h(x) = (a*x + b) mod (2^31 - 1)."""
    rng = np.random.RandomState(seed)
    a = rng.randint(1, MERSENNE_31 - 1, size=num_hashes, dtype=np.int64)
    b = rng.randint(0, MERSENNE_31 - 1, size=num_hashes, dtype=np.int64)
    return [(int(x), int(y)) for x, y in zip(a, b)]


def _minhash_fold_udf(params: list, num_hashes: int):
    """Arrow-batched minhash fold: array<long> of shingle hashes ->
    array<long> signature, sig[i] = min over x of (a_i*x + b_i) mod M31
    (exactly the interpreted zip_with fold it replaces, ~10x faster)."""
    A = np.array([a for a, _ in params], dtype=np.int64)
    B = np.array([b for _, b in params], dtype=np.int64)
    init = np.full(num_hashes, MERSENNE_31, dtype=np.int64)

    @pandas_udf("array<long>")
    def fold(shash: pd.Series) -> pd.Series:
        out = []
        for xs in shash:
            x = np.asarray(xs, dtype=np.int64)
            if x.size == 0:
                out.append(init.copy())
            else:
                out.append(((x[:, None] * A + B) % MERSENNE_31).min(axis=0))
        return pd.Series(out)

    return fold


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    num_hashes: int = 64,
    shingle_k: int = 3,
    seed: int = 42,
) -> DataFrame:
    """Add ``minhash`` (array<long> of length num_hashes).

    signature[i] = min over shingles s of (a_i * xxhash64(s) + b_i) mod M31.
    The (a_i, b_i) literals are baked into the plan; everything is
    transform/array_min inside codegen — per-row cost only, no shuffle.
    """
    # The shingle-hash array is computed ONCE per row and fed to an
    # Arrow-batched numpy fold.  Two measured reasons: (1) the expression
    # form (aggregate + zip_with lambdas) is interpreted, not codegen'd —
    # higher-order functions never compile — costing ~shingles x
    # num_hashes interpreted evals per row; (2) keeping the shingle
    # pipeline a single column reference prevents optimizer rewrites from
    # re-inlining the string work per hash function (the naive
    # "transform(params, p -> array_min(...))" shape re-evaluated it 64x
    # after CollapseProject).  The numpy fold computes the identical
    # universal-hash math ((a*x+b) mod M31 in int64; a*x < 2^62, no
    # overflow) as one (shingles x num_hashes) matrix per row.
    sh = shingles(F.col(text_col), shingle_k)
    staged = df.withColumn("_shingles", sh)
    shash = F.transform(
        F.col("_shingles"), lambda s: F.pmod(F.xxhash64(s), F.lit(MERSENNE_31))
    )
    fold = _minhash_fold_udf(_hash_params(num_hashes, seed), num_hashes)
    return staged.withColumn("minhash", fold(shash))


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    threshold: float = 0.5,
    seed: int = 42,
    verify: bool = True,
    sigs: DataFrame | None = None,
) -> DataFrame:
    """Near-duplicate pairs by MinHash + banded LSH.

    With r = num_hashes/bands rows per band, a pair with Jaccard j collides
    in some band with probability 1 - (1 - j^r)^bands (the standard S-curve).
    Candidates are generated by an equi-join on (band_index, band_hash) —
    a co-partitioned shuffle on small keys, never a cross join — then
    verified with exact shingle Jaccard (skippable via ``verify=False``).

    ``sigs`` short-circuits the signature build with a precomputed
    (_id, _shingles, minhash) relation — the persisted-signature-store
    path (a production dedup service keeps signatures as incremental
    state and only re-signs new documents); ``df`` is ignored then.

    Returns (id_a, id_b, jaccard) with id_a < id_b.
    """
    assert num_hashes % bands == 0, "bands must divide num_hashes"
    r = num_hashes // bands
    built_here = sigs is None
    if sigs is None:
        sigs = minhash_signatures(
            df, text_col, num_hashes, shingle_k, seed
        ).select(F.col(id_col).alias("_id"), "_shingles", "minhash")
    # Empty/NULL shingle sets never pair (jaccard 0/0 -> NULL fails the
    # threshold filter pre-guard); drop them before the rep collapse so
    # the intra jaccard-1.0 path cannot mint them as duplicates, and so
    # the all-identical init signature of empty sets cannot form a
    # quadratic band bucket.
    sigs = sigs.where(F.size("_shingles") > 0)
    if built_here:
        # freshly-signed relations feed the collapse, the banding, and
        # the verify reattach as separate plan branches; without a
        # persist each branch re-runs the shingle build (the signature
        # fold itself is column-pruned out of the reattach, but the
        # string shingling above it is not) — persisted-store callers
        # skip this, their sigs are a plain parquet scan
        sigs = cache_scope.persist(sigs)
    # Hot-bucket guard: collapse identical shingle SETS to one
    # representative per band bucket.  An exact-dup cluster of E
    # documents would otherwise put E ids into one bucket in every band
    # (E^2/2 x bands candidate rows); collapsed, the cluster is one
    # banded row per band, its internal pairs (jaccard exactly 1)
    # emitted arithmetically by _expand_member_pairs.  Identical
    # shingles => identical minhash signature, so the rep-level
    # candidate relation maps 1:1 onto the member-level one — nothing
    # gained or lost.  Everything the collapse touches is NARROW (the
    # digest + ids); the heavy shingle/minhash arrays move exactly as
    # often as the pre-guard plan.  A persisted signature store that
    # already carries a ``_ck`` content-digest column (computed once at
    # store build) short-circuits the per-call digest.
    ck = (
        F.col("_ck")
        if "_ck" in sigs.columns
        else _content_digest(F.col("_shingles"))
    )
    members, rid_map = _collapse_members(
        sigs.select(F.col("_id"), ck.alias("_ck")), "_id"
    )
    # Band and join on (_id, _ck, band keys) ONLY — the heavy shingle
    # arrays do not ride through the 16x explode and the candidate
    # shuffle (measured at sf0.1: 0.63 s -> 0.40 s per call).  Shingles
    # re-attach to the deduplicated candidate PAIRS via two equi-joins
    # against the narrow signature relation; candidates are orders of
    # magnitude fewer than banded rows, so the reattach joins move a
    # tiny fraction of the bytes.
    banded = _rep_banded(
        _minhash_bands(
            sigs.select("_id", "minhash", ck.alias("_ck")),
            bands,
            r,
            extra=("_ck",),
        ),
        ["band_idx", "band_hash"],
    )

    cand = (
        banded.alias("a")
        .join(
            banded.alias("b"),
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    if not verify:
        return _expand_member_pairs(
            cand, members, (), rid_map.select("_rid")
        ).select("id_a", "id_b")
    # rep ids are ordinary rows of sigs — no array-carrying rep join
    sh = sigs.select("_id", "_shingles")
    cand = cand.join(
        sh.select(F.col("_id").alias("id_a"), F.col("_shingles").alias("sh_a")),
        "id_a",
    ).join(
        sh.select(F.col("_id").alias("id_b"), F.col("_shingles").alias("sh_b")),
        "id_b",
    )
    jac = F.size(F.array_intersect("sh_a", "sh_b")) / F.size(
        F.array_union("sh_a", "sh_b")
    )
    rep_pairs = (
        cand.withColumn("jaccard", jac)
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    intra = rid_map.select("_rid", F.lit(1.0).alias("jaccard"))
    return _expand_member_pairs(
        rep_pairs, members, ("jaccard",), intra
    ).select("id_a", "id_b", "jaccard")


def _minhash_bands(
    sigs: DataFrame, bands: int, r: int, extra: tuple = ()
) -> DataFrame:
    """Narrow (_id, band_idx, band_hash[, *extra]) banding relation of a
    signature set — shared by the symmetric pair join and the incremental
    probe; ``extra`` carries narrow passthrough columns (the content
    digest for the rep collapse)."""
    return sigs.withColumn(
        "band",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band_idx"),
                    F.xxhash64(
                        F.concat_ws(",", F.slice("minhash", b * r + 1, r))
                    ).alias("band_hash"),
                ),
            )
        ),
    ).select("_id", "band.band_idx", "band.band_hash", *extra)


def _rep_banded(banded: DataFrame, key: list, flag_col: Optional[str] = None):
    """Hot-bucket guard at the band level: collapse identical contents
    WITHIN each band bucket to their representative.  ``banded`` carries
    the content digest ``_ck``; identical contents have identical
    signatures, hence identical band rows, so grouping on
    (bucket key, _ck) with min(_id) leaves exactly one row per distinct
    content per bucket — and Spark's partial aggregation collapses a
    planted E-duplicate cluster map-side before the exchange (linear
    work, no hot shuffle key).  The group min equals the cluster-global
    min id (every member appears in every band), so the emitted id IS
    the cluster rep id, consistent with _collapse_members."""
    aggs = [F.min("_id").alias("_id")]
    if flag_col:
        aggs.append(F.max(F.col(flag_col)).alias(flag_col))
    return banded.groupBy(*key, "_ck").agg(*aggs)


def minhash_lsh_join(
    batch_sigs: DataFrame,
    corpus_sigs: DataFrame,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
) -> DataFrame:
    """Incremental near-dup probe: near-duplicate (batch doc, corpus doc)
    pairs via banded MinHash — the arriving-batch-vs-existing-store path a
    production dedup service runs on every ingest (sign ONLY the new
    documents, probe them against the persisted corpus signatures; the
    corpus is never re-signed).

    Both inputs are (_id, _shingles, minhash) relations as produced by
    :func:`minhash_signatures`.  Asymmetric: candidates pair a batch id
    with a corpus id (no intra-batch or intra-corpus pairs), verified with
    exact shingle Jaccard.  Scale shape: the batch side of the band join
    is proportional to the BATCH, so per-ingest cost is O(batch + collided
    candidates) regardless of corpus size.  Returns (batch_id, corpus_id,
    jaccard)."""
    assert num_hashes % bands == 0, "bands must divide num_hashes"
    r = num_hashes // bands
    # empty shingle sets never verify (jaccard 0/0 -> NULL); drop both
    # sides pre-collapse (see minhash_lsh_pairs)
    batch_sigs = batch_sigs.where(F.size("_shingles") > 0)
    corpus_sigs = corpus_sigs.where(F.size("_shingles") > 0)
    # the batch side is signed FRESH at call time and feeds three plan
    # branches (collapse, banding, verify reattach) — persist it so the
    # per-ingest signing runs once (measured at sf0.1: the probe's wall
    # was dominated by re-running the batch shingle+fold per branch);
    # the corpus side stays unpersisted — it is a parquet scan of the
    # persisted signature store, cheap to re-read
    batch_sigs = cache_scope.persist(batch_sigs)
    # Hot-bucket guard (both sides): collapse identical shingle sets to
    # representatives per band bucket — a corpus-side exact-dup cluster
    # of E docs matched by one arriving batch doc would otherwise produce
    # E x bands candidate rows; collapsed, it is 1 x bands, and the E
    # member pairs re-expand through one narrow join.  Content-identical
    # batch/corpus docs land in DIFFERENT clusters (one per side), so
    # their jaccard-1 pairs remain ordinary cross candidates — identical
    # signatures always collide in every band — and no intra side exists.
    def _ck_of(sigs_df: DataFrame) -> Column:
        # a signature store carrying a precomputed _ck skips the digest
        return (
            F.col("_ck")
            if "_ck" in sigs_df.columns
            else _content_digest(F.col("_shingles"))
        )

    bm, _ = _collapse_members(
        batch_sigs.select(F.col("_id"), _ck_of(batch_sigs).alias("_ck")),
        "_id", persist=False,
    )
    cm, _ = _collapse_members(
        corpus_sigs.select(F.col("_id"), _ck_of(corpus_sigs).alias("_ck")),
        "_id", persist=False,
    )
    bb = _rep_banded(
        _minhash_bands(
            batch_sigs.select("_id", "minhash", _ck_of(batch_sigs).alias("_ck")),
            bands, r, extra=("_ck",),
        ),
        ["band_idx", "band_hash"],
    )
    cb = _rep_banded(
        _minhash_bands(
            corpus_sigs.select("_id", "minhash", _ck_of(corpus_sigs).alias("_ck")),
            bands, r, extra=("_ck",),
        ),
        ["band_idx", "band_hash"],
    )
    cand = (
        bb.alias("a")
        .join(
            cb.alias("b"),
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash")),
        )
        .select(F.col("a._id").alias("batch_id"), F.col("b._id").alias("corpus_id"))
        .dropDuplicates(["batch_id", "corpus_id"])
    )
    cand = cand.join(
        batch_sigs.select(
            F.col("_id").alias("batch_id"), F.col("_shingles").alias("sh_a")
        ),
        "batch_id",
    ).join(
        corpus_sigs.select(
            F.col("_id").alias("corpus_id"), F.col("_shingles").alias("sh_b")
        ),
        "corpus_id",
    )
    jac = F.size(F.array_intersect("sh_a", "sh_b")) / F.size(
        F.array_union("sh_a", "sh_b")
    )
    rep_pairs = (
        cand.withColumn("jaccard", jac)
        .where(F.col("jaccard") >= threshold)
        .select("batch_id", "corpus_id", "jaccard")
    )
    # asymmetric expansion: keep (batch_id, corpus_id) orientation
    return (
        rep_pairs.join(
            bm.select(F.col("_rid").alias("batch_id"), F.col("_id").alias("_mb")),
            "batch_id",
        )
        .join(
            cm.select(
                F.col("_rid").alias("corpus_id"), F.col("_id").alias("_mc")
            ),
            "corpus_id",
        )
        .select(
            F.col("_mb").alias("batch_id"),
            F.col("_mc").alias("corpus_id"),
            "jaccard",
        )
    )


def banded_jaccard_pairs(
    blocks: DataFrame,
    threshold: float,
    id_col: str = "doc_id",
    sh_col: str = "sh",
    block_cols: tuple = ("lang", "len_bucket"),
    num_hashes: Optional[int] = None,
    seed: int = 42,
    miss_prob: float = 1e-6,
    delta_col: Optional[str] = None,
    hot_cap: int = 1024,
) -> DataFrame:
    """Exact-verified Jaccard pairs via r=1 banded MinHash generation —
    the scale path for LOW thresholds where prefix filtering degenerates
    (prefix length ~ (1-t)|s|, i.e. nearly the whole set at t <= 0.2).

    Input: (id, *block_cols, sh: array<int64>) — one row per item, ``sh``
    the hashed shingle set.  Output: (id_a, id_b, jaccard) with
    id_a < id_b, jaccard = round(|∩|/|∪|, 6), restricted to same-block
    pairs — the SAME relation as the exhaustive block join, which is the
    oracle that gates this plan at sf0.01/sf0.1.

    Why r=1: with r rows per band a threshold-j pair is missed with
    probability (1 - j^r)^b.  At j near 0.1 any r >= 2 needs thousands of
    bands for small miss probability; r=1 needs only
    b = ln(miss_prob)/ln(1-t) (~131 at t=0.1, 1e-6) single-hash bands.
    The price is candidate probability ~ b*j for background pairs — a
    measured ~10-15x verify reduction vs the exhaustive block join in
    this corpus's dense regime (background within-block j ~ 0.01), NOT
    sub-quadratic; no sound sub-quadratic filter exists at t <= 0.2 in a
    saturated shingle vocabulary (BASELINE.md round-6 audit).  The
    candidate generation is a bucketed monoid fold (per-row signatures ->
    band-bucket equi-join), the mergeable-aggregate contract of the
    reference's set ops (core/op_set.go:44-60).

    Determinism: signatures are seeded universal hashes of the data, so
    whether a given pair collides is a pure function of (corpus, seed) —
    an oracle hash-match at a gate scale is reproducible, and the
    per-pair miss bound (miss_prob, default 1e-6) covers scales beyond
    the gate.

    ``delta_col`` (boolean column on ``blocks``) selects INCREMENTAL
    maintenance: only pairs where at least one endpoint is flagged are
    expanded and verified — the per-ingest delta a production pair
    store computes for an arriving batch (new x corpus and new x new
    pairs; the old-corpus pairs are already in the store).  The filter
    applies at bucket-expansion time, before any verify work.

    Hot-bucket guard: identical (block, shingle-set) contents collapse
    to one representative before banding (exact-dup clusters contribute
    one banded row instead of E, their internal jaccard-1 pairs emitted
    arithmetically at expansion), and residual buckets wider than
    ``hot_cap`` distinct contents switch from the collect_list expansion
    to a streamed in-bucket self-join — same candidate set, no E-length
    single-row arrays, no quadratic blowup from web-scale duplicate
    clusters."""
    import math

    if num_hashes is None:
        num_hashes = max(16, int(math.ceil(math.log(miss_prob) / math.log(1.0 - threshold))))
    sigs = blocks.select(
        F.col(id_col).alias("_id"),
        *[F.col(c) for c in block_cols],
        F.col(sh_col).alias("_sh"),
        *(
            [F.col(delta_col).cast("boolean").alias("_fb")]
            if delta_col
            else []
        ),
    )
    # NULL block keys never join to anything in the exhaustive template's
    # plain-equality block join — drop them before any other work (the
    # pre-guard plan dropped them at banding time; filtering earlier also
    # keeps NULL-key rows out of the rep collapse and the intra side)
    if block_cols:
        sigs = sigs.where(
            F.expr(" AND ".join(f"{c} IS NOT NULL" for c in block_cols))
        )
    # Empty/NULL shingle sets can never form a pair (jaccard = 0/0 is
    # NULL, which fails every threshold), but identical empty sets would
    # collapse to one cluster and the intra path would mint them as
    # jaccard-1.0 duplicates — pre-guard semantics emitted NO pair for
    # them, so they are dropped before the collapse (round-9 ADVICE).
    sigs = sigs.where(F.size("_sh") > 0)
    # The input relation feeds THREE plan branches (collapse+banding, and
    # the two verify-reattach legs) and is typically an expensive derived
    # build — for the weighted-MinHash caller it is the full
    # explode+count+expand+collect_list chain, measured at sf0.1 as three
    # separate ~8-12 s recomputations (the reattach legs alias _id to
    # id_a/id_b, so ReuseExchange never unifies them).  One persist makes
    # it single-run; released with release_transient_caches() like the other
    # guard caches (guide §3.3: materialize a multiply-consumed
    # intermediate instead of letting the optimizer duplicate it).
    sigs = cache_scope.persist(sigs)
    # Hot-bucket guard: collapse identical (block, shingle-set) contents
    # to representatives inside each band bucket.  An exact-dup cluster
    # of E docs would otherwise collect an E-length id array into a
    # SINGLE bucket row (executor memory) and expand E^2/2 pairs x
    # num_hashes bands; collapsed, the cluster is one bucket entry per
    # band (partial aggregation absorbs the hot key map-side) and its
    # internal jaccard-1 pairs are emitted arithmetically at expansion.
    # Rep-level flag = any member flagged (delta gating superset; exact
    # member-level filter at expansion).  The collapse machinery is
    # all-narrow: digest + ids only — the heavy shingle arrays move
    # exactly as often as the pre-guard plan (the verify reattach).
    ck = _content_digest(*[F.col(c) for c in block_cols], F.col("_sh"))
    members, rid_map = _collapse_members(
        sigs.select(
            F.col("_id"),
            ck.alias("_ck"),
            *(["_fb"] if delta_col else []),
        ),
        "_id",
        "_fb" if delta_col else None,
    )
    fold = _minhash_fold_udf(_hash_params(num_hashes, seed), num_hashes)
    shash = F.transform(F.col("_sh"), lambda x: F.pmod(x, F.lit(MERSENNE_31)))
    signed = sigs.withColumn("_sig", fold(shash))
    # narrow banding relation: the heavy shingle arrays never ride the
    # num_hashes-way explode or the candidate shuffle
    key = [*block_cols, "band_idx", "band_hash"]
    banded = _rep_banded(
        signed.select(
            "_id",
            *block_cols,
            ck.alias("_ck"),
            *(["_fb"] if delta_col else []),
            F.posexplode("_sig").alias("band_idx", "band_hash"),
        ),
        key,
        "_fb" if delta_col else None,
    )
    # collect (id, flag) structs when in delta mode — sort_array orders
    # by the first struct field (_id), preserving the a<b expansion
    item = (
        F.struct(F.col("_id"), F.col("_fb"))
        if delta_col
        else F.col("_id")
    )
    ids_sorted = F.sort_array(F.collect_list(item))
    # ONE bucket aggregation over the rep-collapsed band rows; bucket
    # width rides in the same row (size(ids)), so the hot-cap split costs
    # no extra shuffle.  Collection is linear in DISTINCT contents per
    # bucket (the exact-dup hazard is gone after the rep collapse; a
    # residual mega-NEAR-dup bucket of 1e6 distinct contents is an 8 MB
    # array — collectable; what must NOT happen in one row is the
    # QUADRATIC pair expansion, which hot_cap gates below).  Persisted:
    # both the fast path and the hot fallback read it, and the persist
    # keeps the (Arrow-batched, expensive) signature fold single-run —
    # without it each plan branch re-folds (measured 12 ArrowEvalPython
    # nodes, 9.8 s vs 1.8 s at sf0.1).  CacheManager dedupes by analyzed
    # plan, so repeated calls share one bounded entry.
    all_buckets = cache_scope.persist(
        banded.groupBy(*key)
        .agg(ids_sorted.alias("ids"))
        .where(F.size("ids") > 1)
    )
    buckets = all_buckets.where(F.size("ids") <= hot_cap)
    # Residual hot buckets: even after the exact-content collapse a band
    # bucket can hold many DISTINCT contents (a giant NEAR-dup cluster
    # all sharing one r=1 min-hash).  Buckets wider than hot_cap skip
    # the in-row expansion (hot_cap^2/2 structs per row is the memory
    # hazard) and re-explode into a streamed self-join on the bucket key
    # — identical candidate set, no single-row pair array, AQE
    # skew-split applies.
    wide_b = all_buckets.where(F.size("ids") > hot_cap).select(
        *key, F.explode("ids").alias("_it")
    )
    if delta_col:
        wide_b = wide_b.select(
            *key, F.col("_it._id").alias("_id"), F.col("_it._fb").alias("_fb")
        )
    else:
        wide_b = wide_b.withColumnRenamed("_it", "_id")
    if delta_col:
        pair_structs = F.flatten(
            F.transform(
                F.col("ids"),
                lambda x, i: F.filter(
                    F.transform(
                        F.slice(F.col("ids"), i + 2, F.size(F.col("ids"))),
                        lambda y: F.struct(
                            x["_id"].alias("id_a"),
                            y["_id"].alias("id_b"),
                            (x["_fb"] | y["_fb"]).alias("in_delta"),
                        ),
                    ),
                    lambda p: p["in_delta"],
                ),
            )
        )
    else:
        pair_structs = F.flatten(
            F.transform(
                F.col("ids"),
                lambda x, i: F.transform(
                    F.slice(F.col("ids"), i + 2, F.size(F.col("ids"))),
                    lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
                ),
            )
        )
    cand = buckets.select(F.explode(pair_structs).alias("p")).select(
        "p.id_a", "p.id_b"
    )
    wide_cond = [
        F.col(f"a.{c}") == F.col(f"b.{c}")
        for c in ("band_idx", "band_hash", *block_cols)
    ] + [F.col("a._id") < F.col("b._id")]
    wide_pairs = wide_b.alias("a").join(wide_b.alias("b"), wide_cond)
    if delta_col:
        wide_pairs = wide_pairs.where(F.col("a._fb") | F.col("b._fb"))
    wide_pairs = wide_pairs.select(
        F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b")
    )
    cand = cand.unionByName(wide_pairs).dropDuplicates(["id_a", "id_b"])
    # rep ids are ordinary rows of sigs — the reattach never recomputes
    # the signature fold (column pruning drops it from this branch)
    sh = sigs.select("_id", "_sh")
    cand = cand.join(
        sh.select(F.col("_id").alias("id_a"), F.col("_sh").alias("sh_a")), "id_a"
    ).join(sh.select(F.col("_id").alias("id_b"), F.col("_sh").alias("sh_b")), "id_b")
    jac = F.size(F.array_intersect("sh_a", "sh_b")) / F.size(
        F.array_union("sh_a", "sh_b")
    )
    rep_pairs = (
        cand.withColumn("jaccard", F.round(jac, 6))
        .where(jac >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    intra = rid_map.select("_rid", F.lit(1.0).alias("jaccard"))
    return _expand_member_pairs(
        rep_pairs,
        members,
        ("jaccard",),
        intra,
        flag_col="_fb" if delta_col else None,
    ).select("id_a", "id_b", "jaccard")


def simhash(text: Column, bits: int = 63) -> Column:
    """SimHash of the token multiset: bit j of the result is 1 iff the sum of
    (+/-1) contributions of token-hash bit j over all tokens is positive.
    Hamming-close simhashes <=> cosine-similar bag-of-words vectors.

    63 bits keeps the packed value positive in a signed long.  Pure
    aggregate/zip_with column math.
    """
    toks = F.split(normalize_text(text), " ")
    zero = F.array_repeat(F.lit(0).cast("long"), bits)
    # shift amounts must be plan-time ints -> unroll the bit loop into a
    # literal array expression (still one codegen'd expression per row)
    counts = F.aggregate(
        toks,
        zero,
        lambda acc, t: F.zip_with(
            acc,
            F.array(
                *[
                    F.shiftright(F.xxhash64(t), j).bitwiseAND(F.lit(1)) * 2 - 1
                    for j in range(bits)
                ]
            ),
            lambda x, y: x + y.cast("long"),
        ),
    )
    pow2 = F.array(*[F.lit(1 << j).cast("long") for j in range(bits)])
    packed = F.aggregate(
        F.zip_with(
            counts,
            pow2,
            lambda c, p: F.when(c > 0, p).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    return packed


def hamming64(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 8,
    bands: int = 4,
    sigs: DataFrame | None = None,
) -> DataFrame:
    """Near-dup pairs by SimHash: band the 63-bit hash into ``bands`` chunks
    (pigeonhole: any pair within Hamming distance < bands shares a chunk),
    equi-join on chunks, verify exact Hamming distance.

    ``sigs`` short-circuits the signature computation with a precomputed
    (_id, sh) relation (persisted signature store); ``df`` is ignored."""
    chunk = 63 // bands
    if sigs is None:
        sigs = df.select(
            F.col(id_col).alias("_id"), simhash(F.col(text_col)).alias("sh")
        )
    # Hot-bucket guard: collapse identical SIGNATURES to representatives
    # before banding (sound here because the verify metric — Hamming
    # distance — is a function of the signature alone: members of an
    # sh-cluster are at distance 0 from each other and at their rep's
    # distance from everyone else).  An exact-dup cluster of E docs is
    # one banded row instead of E per chunk; intra pairs (hamming 0)
    # emit arithmetically.  The signature IS the content key (a long) —
    # the whole collapse is narrow.
    members, rid_map = _collapse_members(
        sigs.select(F.col("_id"), F.col("sh").alias("_ck")), "_id"
    )
    sigs = rid_map.select(F.col("_rid").alias("_id"), F.col("_ck").alias("sh"))
    banded = sigs.withColumn(
        "band",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("band_idx"),
                        F.shiftright(F.col("sh"), bi * chunk)
                        .bitwiseAND(F.lit((1 << chunk) - 1))
                        .alias("band_val"),
                    )
                    for bi in range(bands)
                ]
            )
        ),
    ).select("_id", "sh", "band.band_idx", "band.band_val")
    cand = (
        banded.alias("a")
        .join(
            banded.alias("b"),
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            F.col("a.sh").alias("sh_a"),
            F.col("b.sh").alias("sh_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    rep_pairs = (
        cand.withColumn("hamming", hamming64(F.col("sh_a"), F.col("sh_b")))
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )
    intra = rid_map.select(
        "_rid", F.lit(0).cast("integer").alias("hamming")
    )
    return _expand_member_pairs(
        rep_pairs, members, ("hamming",), intra
    ).select("id_a", "id_b", "hamming")


def _hyperplanes(dim: int, n_planes: int, seed: int) -> np.ndarray:
    rng = np.random.RandomState(seed)
    return rng.standard_normal((n_planes, dim))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity of two array<double> columns (JVM column math)."""
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    na = F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))
    nb = F.sqrt(F.aggregate(b, F.lit(0.0), lambda acc, v: acc + v * v))
    # zero-norm vectors yield NULL (dropped by any >= threshold filter)
    # rather than an ANSI divide-by-zero
    return dot / F.nullif(na * nb, F.lit(0.0))


def embedding_near_dups(
    df: DataFrame,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
    n_planes: int = 16,
    threshold: float = 0.9,
    seed: int = 42,
    probe_hamming: int = 1,
    sigs: DataFrame | None = None,
) -> DataFrame:
    """Cosine near-duplicates via random-hyperplane LSH.

    Signature bit i = sign(v . r_i); P[bits agree] = 1 - angle/pi, so
    cos >= 0.9 pairs collide on the full signature with high probability.
    ``probe_hamming=1`` also joins signatures differing in one bit
    (multi-probe) to recover boundary pairs.  Exact cosine verification on
    candidates only.

    ``sigs`` short-circuits the signature computation with a precomputed
    (_id, v, sig) relation (persisted signature store); ``df`` is ignored.
    """
    if sigs is None:
        from summarydb_spark.functions.similarity import (
            _require_dim,
            _sigs_all_tables_udf,
        )

        _require_dim(df, emb_col, dim)
        planes = _hyperplanes(dim, n_planes, seed)
        sigf = _sigs_all_tables_udf([planes])
        vecs = df.select(
            F.col(id_col).alias("_id"),
            F.transform(F.col(emb_col), lambda x: x.cast("double")).alias("v"),
        )
        sigs = vecs.withColumn("sig", F.element_at(sigf(F.col("v")), 1))
    # Hot-bucket guard: collapse identical VECTORS to representatives
    # before probing — an exact-dup cluster of E vectors would otherwise
    # collide on every probe ((1+n_planes) x E^2/2 candidate rows);
    # collapsed, it is one probed row, and intra pairs re-emit with the
    # rep's self-cosine (computed with the same expression BEFORE the
    # narrow aggregation, so zero-norm vectors still yield NULL and drop
    # at the threshold filter, and ulp-level float behavior matches the
    # pre-guard verify).  The collapse aggregation moves only
    # (digest, id, sig, self-cosine) — never the vectors.
    nrw = sigs.select(
        F.col("_id"),
        _content_digest(F.col("v")).alias("_ck"),
        F.col("sig"),
        cosine(F.col("v"), F.col("v")).alias("_selfcos"),
    )
    # persisted (narrow): rid_map feeds the probe side + intra payload,
    # members feeds four expansion branches — without the shared
    # materialization each branch re-runs the vector digest
    rid_map = cache_scope.persist(
        nrw.groupBy("_ck").agg(
            F.min("_id").alias("_rid"),
            F.min("sig").alias("sig"),
            F.min("_selfcos").alias("_selfcos"),
        )
    )
    members = cache_scope.persist(
        nrw.select("_id", "_ck")
        .join(rid_map.select("_ck", "_rid"), "_ck")
        .select("_rid", "_id")
    )
    # multi-probe: emit the signature and its 1-bit flips.  As in
    # minhash_lsh_pairs, the probe join moves only (_id, sig) — the
    # 64-double vectors re-attach to deduplicated candidate pairs after.
    probes = [F.col("sig")]
    if probe_hamming >= 1:
        probes += [
            F.col("sig").bitwiseXOR(F.shiftleft(F.lit(1).cast("long"), i))
            for i in range(n_planes)
        ]
    if probe_hamming >= 2:
        probes += [
            F.col("sig").bitwiseXOR(F.lit((1 << i) | (1 << j)).cast("long"))
            for i in range(n_planes)
            for j in range(i + 1, n_planes)
        ]
    narrow = rid_map.select(F.col("_rid").alias("_id"), "sig")
    probed = narrow.withColumn("probe", F.explode(F.array(*probes)))
    cand = (
        probed.alias("a")
        .join(
            narrow.alias("b"),
            (F.col("a.probe") == F.col("b.sig")) & (F.col("a._id") < F.col("b._id")),
        )
        .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    # rep ids are ordinary rows of sigs — no array-carrying rep join
    vs = sigs.select("_id", "v")
    cand = cand.join(
        vs.select(F.col("_id").alias("id_a"), F.col("v").alias("va")), "id_a"
    ).join(vs.select(F.col("_id").alias("id_b"), F.col("v").alias("vb")), "id_b")
    rep_pairs = (
        cand.withColumn("cosine", cosine(F.col("va"), F.col("vb")))
        .where(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )
    intra = rid_map.select(
        "_rid", F.col("_selfcos").alias("cosine")
    ).where(F.col("cosine") >= threshold)
    return _expand_member_pairs(
        rep_pairs, members, ("cosine",), intra
    ).select("id_a", "id_b", "cosine")


def semantic_dedup(
    df: DataFrame,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    n_sign_dims: int = 8,
    clusters: DataFrame | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): partition the corpus into clusters, compute pairwise
    cosines *inside each cluster only*, and drop every vector that is
    >= threshold-similar to ANY lower-id vector — the paper's
    upper-triangular max rule, which tests against predecessors regardless
    of whether they were themselves dropped.  In a similarity chain
    (1~2~3, 1!~3) this removes BOTH 2 and 3 (sequential greedy would keep
    3); ``keeper_id`` is the lowest-id similar predecessor and may itself
    appear in the dropped set.  Survivors = ids absent from the output.

    Cluster assignment defaults to the sign pattern of the first
    ``n_sign_dims`` components — a fixed, data-independent hyperplane
    quantizer (deterministic, so the result is oracle-checkable).  At scale
    pass ``clusters`` = a (_id, bucket) relation from a trained quantizer
    (e.g. the IVF assignments in functions.similarity) — the join/verify
    shape is identical: candidate generation is an equi-join on the bucket
    key, the quadratic cosine verify runs inside buckets only, and the
    greedy keeper choice is one aggregation.  Beyond-reference operator
    (the reference has no vector surface; SURVEY.md §2.6).

    Returns (vec_id, keeper_id, cosine): one row per *dropped* vector with
    its lowest-id similar predecessor and their exact cosine.
    """
    vecs = df.select(
        F.col(id_col).alias("_id"),
        F.transform(F.col(emb_col), lambda x: x.cast("double")).alias("v"),
    )
    if clusters is None:
        bucket = F.lit(0)
        for i in range(n_sign_dims):
            # try_element_at: a vector shorter than n_sign_dims contributes
            # sign bit 0 for the missing dims instead of an ANSI
            # out-of-bounds error
            bucket = bucket + F.when(
                F.expr(f"try_element_at(v, {i + 1})") >= 0, F.lit(1 << i)
            ).otherwise(F.lit(0))
        vecs = vecs.withColumn("bucket", bucket)
    else:
        vecs = vecs.join(clusters, "_id")
    # candidate join moves only (_id, bucket); vectors re-attach to the
    # (much smaller) intra-bucket pair set afterwards
    narrow = vecs.select("_id", "bucket")
    cand = (
        narrow.alias("a")
        .join(
            narrow.alias("b"),
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
    )
    vs = vecs.select("_id", "v")
    cand = cand.join(
        vs.select(F.col("_id").alias("id_a"), F.col("v").alias("va")), "id_a"
    ).join(vs.select(F.col("_id").alias("id_b"), F.col("v").alias("vb")), "id_b")
    sim = cand.withColumn("cosine", cosine(F.col("va"), F.col("vb"))).where(
        F.col("cosine") >= threshold
    )
    return sim.groupBy(F.col("id_b").alias(id_col)).agg(
        F.min("id_a").alias("keeper_id"),
        F.expr("min_by(cosine, id_a)").alias("cosine"),
    )


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iterations: int = 50,
) -> DataFrame:
    """Connected components of an undirected pair graph -> (node, component).

    The dedup endgame: near-dup *pairs* (from any of the operators above)
    must become duplicate *clusters* before keeper selection, and pair
    relations are not transitive — only the component is.  Component id =
    min node id in the component (deterministic).

    Algorithm: iterative min-label propagation.  Each round every node
    takes the min of its own label and its neighbors' labels; converges in
    O(diameter) rounds.  Near-dup graphs at corpus scale are forests of
    tiny cliques (diameter ~2-4), so this runs 3-5 rounds of
    shuffle-on-node-id hash joins — each round is one `groupBy(node).min`,
    AQE-coalesced; no driver-side graph state.  `localCheckpoint`
    truncates the growing lineage each round so the plan stays O(1);
    the checkpoint is LAZY and the convergence sum's job materializes
    it, so each round costs ONE driver action instead of
    eager-checkpoint + sum (two) — the same fusion kcore's peel loop
    uses (round 10).
    Replaces the reference's absent clustering (its bloom/dedup surface
    stops at membership, README.md:27-28).
    """
    # materialize the (possibly expensive) edge computation ONCE — the loop
    # re-reads it every round for messages and convergence checks
    und = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .union(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # seed with round 1's closed form — label = min(node, min neighbor) —
    # one aggregate instead of the first join-propagate round (und holds
    # both edge directions, so grouping on `a` covers every node)
    labels = (
        und.groupBy("a")
        .agg(F.least(F.min("b"), F.col("a")).alias("label"))
        .select(F.col("a").alias("node"), "label")
    )
    # Convergence check exploits monotonicity instead of a diff join: the
    # node set is fixed and per-node labels only ever decrease, so the
    # label sum strictly decreases every round until the fixpoint — one
    # column-sum over the just-checkpointed labels replaces the
    # join + filter + count job the old check ran per round.
    prev_sum = None
    for _ in range(max_iterations):
        # neighbor-label messages + own label, take the min per node
        msgs = und.join(
            labels.withColumnRenamed("node", "b2"),
            F.col("b") == F.col("b2"),
        ).select(F.col("a").alias("node"), "label")
        labels = (
            labels.union(msgs)
            .groupBy("node")
            .agg(F.min("label").alias("label"))
            .localCheckpoint(eager=False)
        )
        # exact decimal sum: int64 node ids near 2^62 overflow a long sum
        # (ANSI throw, or silent wraparound breaking the monotone-decrease
        # invariant); decimal(38,0) is exact past 1e37.  This action also
        # materializes the lazy checkpoint above — one job per round.
        cur_sum = labels.agg(
            F.sum(F.col("label").cast("decimal(38,0)"))
        ).collect()[0][0]
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    return labels.select("node", F.col("label").alias("component"))


def label_propagation(
    edges: DataFrame,
    rounds: int = 3,
    src: str = "a",
    dst: str = "b",
    checkpoint_depth: int = 4,
) -> DataFrame:
    """Synchronous SELF-INCLUSIVE label propagation (Raghavan et al.
    2007) over an undirected pair graph, ``rounds`` fixed iterations ->
    (node, label): every node starts labeled with its own id; each
    round it adopts the most frequent label among its neighbors AND
    itself, ties broken by the smaller label (exact integer rule, so a
    fixed round count is engine-portable and oracle-checkable — the
    same fixed-round contract as the kmeans/PageRank twins).  The
    self-vote is load-bearing: pure-neighbor synchronous LPA oscillates
    on bipartite structures — an isolated duplicate PAIR swaps labels
    every round and never forms a community, which made the sparse
    dedup-pair graph degenerate (measured: 0 communities at sf0.01).
    Community detection one rung above connected_components on the
    dup-graph ladder: CC merges everything touching, LPA splits chained
    boilerplate into densely-linked groups.

    Scale shape: the label relation is one row per node; each round is
    one equi-join (edges x labels, shuffle keyed on the node id) + one
    (node, label) hash aggregate with map-side partial counts + one
    struct-min argmax — no quadratic term.  Lineage: shallow loops
    (rounds <= ``checkpoint_depth``) run as ONE composed plan — each
    round's labels feed exactly one consumer, so Catalyst pipelines the
    whole chain without re-computation and skipping the per-round
    localCheckpoint materializations measured 23% faster at the
    3-round gate; deeper loops truncate lineage per round like
    connected_components/kcore (plan depth, not correctness, is the
    constraint)."""
    ckpt = rounds > checkpoint_depth
    # NOTE (round-10, measured): do NOT persist the loop-invariant edge /
    # node relations here.  The composed plan re-instantiates them per
    # round (110+ Exchange nodes at the co-purchase gate), but runtime
    # exchange-stage reuse already dedupes the identical shuffles, and an
    # A/B with cold caches per rep measured persist STRICTLY WORSE
    # (3.4-6.6 s -> 6.7-22.9 s at sf0.1): cache materialization +
    # codegen-break cost more than the already-deduped recompute
    # (guide §5 — cache only when recompute beats memory pressure).
    und = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).union(
        edges.select(F.col(dst).alias("a"), F.col(src).alias("b"))
    )
    nodes = und.select("a").distinct()
    # self-loop per node implements the self-vote in the same join
    sym = und.union(nodes.select("a", F.col("a").alias("b")))
    if ckpt:
        sym = sym.localCheckpoint(eager=True)
    labels = nodes.select(F.col("a").alias("v")).withColumn(
        "lab", F.col("v")
    )
    for _ in range(rounds):
        counts = (
            sym.join(labels.withColumnRenamed("v", "b"), "b")
            .groupBy("a", "lab")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        # majority with min-label tiebreak == min over (-count, label)
        labels = counts.groupBy("a").agg(
            F.min(
                F.struct((-F.col("c")).alias("nc"), F.col("lab"))
            ).alias("m")
        ).select(F.col("a").alias("v"), F.col("m.lab").alias("lab"))
        if ckpt:
            labels = labels.localCheckpoint(eager=True)
    return labels.select(F.col("v").alias("node"), F.col("lab").alias("label"))


def kcore(
    edges: DataFrame,
    k: int = 2,
    src: str = "a",
    dst: str = "b",
    max_rounds: int = 1000,
    bcast_max: int = 1_000_000,
) -> DataFrame:
    """k-core of an undirected pair graph via iterative peeling ->
    (node, deg_core): repeatedly drop nodes with degree < k among the
    survivors UNTIL THE SURVIVOR SET STABILIZES (the alive count is
    monotone decreasing, so an unchanged count is exact convergence),
    then report each survivor's in-core degree.  ``max_rounds`` is a
    SAFETY VALVE, not a truncation: if peeling has not converged within
    the budget the function RAISES rather than silently returning a
    superset (a long path graph needs O(diameter) rounds; the caller
    must get an error, not a wrong answer at scale — round-8 VERDICT
    item 3).

    The dup-graph cohesion ladder above CC/PageRank/triangles: cores
    separate the dense copy-cliques worth human review from loosely
    chained boilerplate.  Scale shape mirrors connected_components: each
    round restricts the edge set to surviving endpoints and re-counts
    degrees, lineage truncated per round with localCheckpoint; no
    driver-side graph state beyond the one monotone counter.  The
    survivor count is known EXACTLY each round (the convergence check
    computes it), so the endpoint joins broadcast the alive set while it
    fits (``bcast_max`` rows = one long each) and fall back to hash
    joins beyond — measured 6.3 -> 4.0 s at sf0.1 with identical output,
    and the adaptive switch keeps the plan sound when the survivor set
    is billions of nodes.

    Per-round driver-action shape (this is the wall at gate scale, where
    each action is a scheduling floor): the first peel runs straight off
    the raw symmetric edge set — the initial alive set is every endpoint
    BY CONSTRUCTION, so the restrict joins and the |V| distinct+count
    the old code paid up front were no-ops (connected_components' fused
    first round, applied to peeling) — and each round's survivor set is
    localCheckpoint'ed LAZILY with the convergence count() materializing
    it, one action per round instead of eager-checkpoint + count (two).
    Convergence is certified by two successive equal counts (or an empty
    set), so a graph that is ALREADY a k-core needs a second confirming
    peel; max_rounds must be >= 1 and budgets >= 2 behave exactly as
    before."""
    if max_rounds < 1:
        raise ValueError("kcore: max_rounds must be >= 1")
    und = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .union(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .localCheckpoint(eager=True)
    )

    def restrict(al: DataFrame, n_alive: int) -> DataFrame:
        side_a = F.broadcast(al) if n_alive <= bcast_max else al
        side_b = F.broadcast(al) if n_alive <= bcast_max else al
        return und.join(side_a.withColumnRenamed("n", "a"), "a").join(
            side_b.withColumnRenamed("n", "b"), "b"
        )

    alive: DataFrame | None = None
    prev: int | None = None
    converged = False
    for _ in range(max_rounds):
        base = und if alive is None else restrict(alive, prev)
        deg = base.groupBy("a").agg(F.count(F.lit(1)).alias("deg"))
        alive = (
            deg.where(F.col("deg") >= k)
            .select(F.col("a").alias("n"))
            .localCheckpoint(eager=False)
        )
        cur = alive.count()  # materializes the lazy checkpoint
        if cur == 0 or cur == prev:
            converged = True  # monotone shrink: equal count == identical set
            prev = cur
            break
        prev = cur
    if not converged:
        raise RuntimeError(
            f"kcore: peeling did not converge within max_rounds={max_rounds} "
            f"({prev} nodes still alive); raise max_rounds — returning the "
            "current superset would be a silently wrong answer"
        )
    return (
        restrict(alive, prev)
        .groupBy("a")
        .agg(F.count(F.lit(1)).cast("long").alias("deg_core"))
        .select(F.col("a").alias("node"), "deg_core")
    )
