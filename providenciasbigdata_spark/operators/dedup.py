"""Deduplication operators for training-data pipelines (SURVEY.md C-X1/C-X2).

Five strategies, cheapest first:

- exact:        md5 content fingerprint -> groupBy keep-min.  One shuffle.
- ngram-jaccard: exact set Jaccard over token shingles on candidate
                pairs.  Exact but O(pairs); feed it LSH candidates.
- MinHash+LSH:  shingle -> k minhashes -> b bands -> bucket join.
                O(n*b) candidate generation, the 100TB near-dup path.
                Up to ``_DRIVER_MAX_ROWS`` hashed shingles,
                ``minhash_near_dups`` collects them once
                (``session.collect_below``) and bands and verifies in
                numpy on the driver, with the same hash family: no
                shuffle, join or persist.
- SimHash:      64-bit weighted-majority fingerprint; near-dups have
                small Hamming distance.  One pandas_udf (Arrow) pass.
- embedding:    cosine over an embedding column; thresholded pairs.

All hash functions are deterministic across runs (xxhash64 seeds are
literal ints; no PYTHONHASHSEED dependence).

Scale notes (the Spark plans): candidate generation never
materializes O(n^2) — bands bucket-join with an equi-key (band_id,
band_hash) so Catalyst plans a plain shuffle-hash join; the verify step
runs exact Jaccard only on bucket collisions. Skewed buckets (a
shingle shared by millions of docs) are handled by AQE skew splitting;
degenerate full-constant buckets should be salted or capped upstream.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from providenciasbigdata_spark.functions.text import content_fingerprint, shingles, tokenize
from providenciasbigdata_spark.session import collect_below, local_frame


# ---- fingerprint format versioning ---------------------------------------
#
# The *_incremental operators compare a fresh batch against a PERSISTED
# index of fingerprints/signatures. Whenever a hash family changes (round
# 11 moved SimHash blake2b+unicode-\W -> md5-prefix+ASCII tokenize so a
# SQL oracle can replay the bits), every previously persisted index of
# that family is silently garbage — same column types, wrong agreement
# semantics. Writers should stamp their index with `stamp_family`; the
# incremental readers call `check_family` and FAIL LOUDLY on a stale or
# foreign index instead of returning plausible-looking non-matches.
# (Unstamped legacy indexes pass unchecked — documented migration gap.)
#
# Throughput note: md5 is ~2-4x slower per token than xxhash64/blake2b.
# SimHash hashes DISTINCT tokens once per Arrow batch behind a cache, so
# the delta is a small fraction of tokenize cost even on a 100 TB scan;
# where the hash IS the hot loop (curate_quality_classifier's feature
# hashing) xxhash64 stays, trading oracle replay for scan speed.

SIMHASH_FAMILY = "simhash/md5-ascii/v2"        # r11: was blake2b/\W (v1)
MINHASH_FAMILY = "minhash/xxhash64-shingle/v1"  # unchanged since r1
EXACT_FAMILY = "exact/md5-content/v1"           # unchanged since r1

_FAMILY_COL = "fingerprint_family"


# ---- operator-persist lifecycle (round 14, verdict-r13 item 5) ------------
#
# Several operators persist an intermediate that feeds multiple branches
# of the RETURNED (lazy) plan — the hashed shingle sets, signatures,
# hashed gram rows. The operator cannot unpersist them itself (nothing
# has run yet when it returns), so without a contract every call leaks
# a corpus-sized cache into the block manager for the session lifetime.
# Contract: the returned DataFrame carries its persisted upstreams in
# ``_pbd_persisted``; callers release them AFTER their action with
# ``release(df)`` (on the frame the operator returned — derived frames
# don't inherit the attribute). Batch drivers that already clear all
# cache/RDD state between queries (bench.py) need nothing extra.

def _track_persist(out: DataFrame, *cached: DataFrame) -> DataFrame:
    """Attach operator-persisted upstream frames to the returned frame
    (see module note above); composes if called twice."""
    existing = tuple(getattr(out, "_pbd_persisted", ()))
    out._pbd_persisted = existing + tuple(c for c in cached if c is not None)
    return out


def release(df: DataFrame) -> None:
    """Release every intermediate a dedup operator persisted while
    building ``df``. Call after the action that consumes ``df``; safe
    (no-op) on frames with nothing attached."""
    for c in getattr(df, "_pbd_persisted", ()):
        c.unpersist()


def stamp_family(index_df: DataFrame, family: str) -> DataFrame:
    """Tag a fingerprint/signature index with its hash-family version
    (one literal column, ~free under dictionary encoding in parquet).
    Write indexes through this so a later family bump is caught at read
    time by ``check_family`` instead of silently estimating garbage."""
    return index_df.withColumn(_FAMILY_COL, F.lit(family))


def check_family(index_df: DataFrame, expected: str) -> DataFrame:
    """Validate a persisted index's hash-family stamp against the
    CURRENT operator family; returns the index with the stamp column
    dropped. A mismatching stamp raises immediately — plan-build time,
    not after a full scan.

    A missing stamp passes only for v1 families (nothing predates v1,
    so an unstamped index is genuinely current). For any family past
    v1 an unstamped index IS the hazard the guard exists for — every
    pre-bump index is by definition unstamped (ADVICE r12: the v1->v2
    SimHash break would have sailed through the lenient path) — so it
    raises with a rebuild-or-restamp hint."""
    if _FAMILY_COL not in index_df.columns:
        if expected.rsplit("/", 1)[-1] != "v1":
            raise ValueError(
                f"fingerprint index has no {_FAMILY_COL!r} stamp but the "
                f"current operator family {expected!r} has had at least "
                "one hash-family bump — an unstamped index predates the "
                "bump and its agreement semantics are meaningless. "
                "Rebuild the index, or re-stamp it with stamp_family() "
                "if it was verifiably built with the current family."
            )
        return index_df
    found = [
        r[0]
        for r in index_df.select(_FAMILY_COL).distinct().limit(3).collect()
    ]
    if found and (len(found) > 1 or found[0] != expected):
        raise ValueError(
            f"fingerprint index family {found!r} does not match the "
            f"current operator family {expected!r} — rebuild the index "
            "(hash families changed; agreement across families is "
            "meaningless)"
        )
    return index_df.drop(_FAMILY_COL)


# ---- exact --------------------------------------------------------------

def dedup_exact(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact content dedup: keep the smallest id per normalized-content
    fingerprint. Deterministic 'keep-first' semantics (min id), unlike
    dropDuplicates whose survivor is partition-order-dependent."""
    h = content_fingerprint(F.col(text_col)).alias("content_hash")
    w = Window.partitionBy("content_hash").orderBy(F.asc(id_col))
    return (
        df.select(h, *df.columns)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def dedup_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """One-row summary: total docs, distinct contents, duplicate docs."""
    h = content_fingerprint(F.col(text_col))
    return df.select(h.alias("content_hash")).agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("content_hash").alias("n_distinct"),
        (F.count("*") - F.countDistinct("content_hash")).alias("n_dup_docs"),
    )


# ---- exact n-gram Jaccard ----------------------------------------------

def jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram: int = 1,
    threshold: float = 0.5,
    left_filter=None,
) -> DataFrame:
    """Exact Jaccard similarity over distinct token n-gram sets for
    candidate pairs (left x all, left optionally restricted). O(L*n):
    use ``left_filter`` or feed LSH candidates at scale.

    Output: (left_id, right_id, jaccard) with left_id < right_id.
    """
    toks = F.array_distinct(
        shingles(F.col("__tokens"), ngram) if ngram > 1 else F.col("__tokens")
    )
    base = _tokens(df, id_col, text_col).select("id", toks.alias("__set"))
    left = base.select(F.col("id").alias("left_id"), F.col("__set").alias("set_a"))
    if left_filter is not None:
        left = left.filter(left_filter(F.col("left_id")))
    right = base.select(F.col("id").alias("right_id"), F.col("__set").alias("set_b"))
    pairs = left.join(right, F.col("left_id") < F.col("right_id"))
    inter = F.size(F.array_intersect("set_a", "set_b")).cast("double")
    union = (F.size("set_a") + F.size("set_b")).cast("double") - inter
    jac = F.round(inter / F.greatest(union, F.lit(1.0)), 6)
    return pairs.select("left_id", "right_id", jac.alias("jaccard")).filter(
        F.col("jaccard") >= threshold
    )


def _jaccard_prefix_rows(
    df: DataFrame, id_col: str, text_col: str, ngram: int, threshold: float,
    base: DataFrame | None = None,
) -> DataFrame:
    """(id, len, tok) prefix rows for the AllPairs/PPJoin candidate
    join: per-document token sets ordered by ascending corpus
    frequency, truncated to the prefix the Jaccard threshold theorem
    requires. Shared by ``jaccard_join_prefix`` and
    ``jaccard_prefix_skew`` so the diagnosed key IS the joined key.

    ``tok`` is ``xxhash64(token)`` — a LONG, not the shingle string
    (round 10): tokens hash at the first map, so every downstream
    shuffle (frequency agg, frequency join, ordered-set build,
    candidate equi-join) moves 8-byte keys instead of ~25-byte shingle
    strings — at the x64 weak-scaling point the string pipeline
    spilled past the sandbox disk; the hashed one fits. Correctness is
    intact: the prefix theorem needs only A consistent global total
    order, and (freq asc, hash asc) is one; equal tokens always hash
    equal (zero recall loss), and a 1-in-2^64 collision only ADDS a
    candidate the set-intersection verify discards (the verify sets
    are hashed too — see jaccard_join_prefix — with the documented
    shingle_hash_sets collision bound; the registry's brute-force
    STRING oracles remain the independent exactness check).

    ``base`` (round 13): a prebuilt — typically persisted — (id,
    __set: array<long>) HASHED-set frame to derive the rows from, so
    a caller that also needs the hashed sets for its verify step (the
    containment join) shares one tokenize+shingle+hash pass instead of
    re-running it per plan branch."""
    if base is not None:
        tokdf = base.select("id", F.explode("__set").alias("tok"))
    else:
        toks = F.array_distinct(
            shingles(F.col("__tokens"), ngram) if ngram > 1 else F.col("__tokens")
        )
        sb = _tokens(df, id_col, text_col).select("id", toks.alias("__set"))
        tokdf = sb.select(
            "id",
            F.explode(F.transform("__set", lambda t: F.xxhash64(t))).alias("tok"),
        )
    dfreq = tokdf.groupBy("tok").agg(F.count("*").alias("tdf"))
    ordered = (
        tokdf.join(dfreq, "tok")
        .groupBy("id")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("tdf", "tok"))),
                lambda s: s["tok"],
            ).alias("ordset")
        )
        .withColumn("len", F.size("ordset"))
        .withColumn(
            "plen",
            (F.col("len") - F.ceil(F.lit(threshold) * F.col("len")) + 1).cast("int"),
        )
    )
    return ordered.select(
        "id", "len", F.explode(F.expr("slice(ordset, 1, plen)")).alias("tok")
    )


def jaccard_prefix_skew(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram: int = 1,
    threshold: float = 0.5,
) -> DataFrame:
    """Skew diagnosis for the ``jaccard_join_prefix`` candidate key
    (verdict-r5 item 6): ``skew_report`` over the ACTUAL prefix-token
    rows the candidate equi-join will shuffle. Rarest-first prefixes
    keep this balanced on organic corpora, but a near-duplicate-heavy
    corpus concentrates identical prefixes on one token (a paragraph
    duplicated d times contributes d prefix rows per prefix token, and
    d^2 candidate pairs on ONE key). Run this first at scale; a
    ``skew_ratio`` >> 1 (or ``max_n`` in the thousands) says to pass
    ``salt > 1`` to ``jaccard_join_prefix``."""
    from providenciasbigdata_spark.operators.skew import skew_report

    return skew_report(
        _jaccard_prefix_rows(df, id_col, text_col, ngram, threshold), "tok"
    )


def jaccard_join_prefix(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram: int = 1,
    threshold: float = 0.5,
    salt: int = 1,
    broadcast_verify: bool = False,
) -> DataFrame:
    """EXACT Jaccard-threshold self-join via prefix filtering — the
    AllPairs/PPJoin family (Bayardo WWW'07, Xiao WWW'08): the scale
    path for exact set-similarity joins, complementing MinHash-LSH
    (which trades recall for speed; this trades nothing and still
    avoids the all-pairs cartesian).

    Theorem: order every set by one global token order; two sets with
    Jaccard >= t must share at least one token among their first
    ``|s| - ceil(t*|s|) + 1`` tokens. Ordering by ASCENDING corpus
    frequency puts the RAREST tokens in the prefix, so the candidate
    equi-join on prefix tokens fans out minimally (the common tokens
    that would explode the join live at the suffix end and never key
    the join). A size filter (t*|b| <= |a|, t*|a| <= |b|) prunes
    further before verification; exact Jaccard then verifies each
    candidate with the same rounded expression as jaccard_pairs, so the
    output == jaccard_pairs(threshold=t) (pinned in tests; the only
    theoretical divergence is a pair whose TRUE Jaccard sits within
    5e-7 below t and rounds up — the prefix theorem bounds true
    similarity, the verify step rounds).

    Plan shape: one vocabulary aggregate, one ordered-set build, one
    token equi-join over prefixes, one verify join — no cartesian
    (plan-pinned), no driver-side data.

    Skew (verdict-r5 item 6): on a near-duplicate-heavy corpus the
    candidate key concentrates — d copies of one paragraph share
    identical prefixes, so one token carries d rows per side (the d^2
    candidate pairs are TRUE output, but one task would build them
    all). ``salt > 1`` splits each hot key's build across ``salt``
    tasks: the left prefix rows key on (tok, xxhash64(left_id) % salt)
    and the right side replicates onto every salt value — each
    left-right pair still meets exactly once, so the output is
    IDENTICAL (pinned vs salt=1 and vs jaccard_pairs on a hot fixture
    in tests/test_dedup.py, with a measured partition-spread bound).
    Cost: the right side shuffles salt x — keep the default 1 for
    organic corpora and decide with ``jaccard_prefix_skew``.
    """
    if not (0.0 < threshold <= 1.0):
        raise ValueError("threshold must be in (0, 1]")
    if not (isinstance(salt, int) and salt >= 1):
        raise ValueError(f"salt must be an int >= 1, got {salt!r}")
    toks = F.array_distinct(
        shingles(F.col("__tokens"), ngram) if ngram > 1 else F.col("__tokens")
    )
    # verify sets ride as xxhash64 long arrays (round 10): set
    # cardinality — hence Jaccard — is preserved up to 64-bit
    # collisions (~pairs·|A|·|B|/2^64, negligible; the same documented
    # bound as shingle_hash_sets), and the verify join's payload drops
    # ~2.5x vs ~25-byte shingle strings. On a candidate-dense corpus
    # the verify join IS the widest shuffle (measured at the x64
    # weak-scaling point: 37M candidate pairs x two ~1KB string arrays
    # spilled past the sandbox disk; the hashed payload fits).
    base = _tokens(df, id_col, text_col).select(
        "id", F.transform(toks, lambda t: F.xxhash64(t)).alias("__set")
    )
    prefixes = _jaccard_prefix_rows(df, id_col, text_col, ngram, threshold)
    # prefix rows already carry xxhash64(token) keys (round 10, see
    # _jaccard_prefix_rows): the candidate shuffle moves 8-byte longs
    left = prefixes.select(
        F.col("id").alias("left_id"), F.col("len").alias("alen"), "tok"
    )
    right = prefixes.select(
        F.col("id").alias("right_id"), F.col("len").alias("blen"), "tok"
    )
    join_keys = ["tok"]
    if salt > 1:
        # xxhash64 over the STRING-cast id: type-canonical on both
        # engines of this repo's parity tests and stable across int/
        # long id columns (the INT-literal-vs-BIGINT silent-miss trap)
        left = left.withColumn(
            "__salt", F.pmod(F.xxhash64(F.col("left_id").cast("string")), F.lit(salt))
        )
        right = right.withColumn(
            "__salt",
            F.explode(F.sequence(F.lit(0).cast("bigint"), F.lit(salt - 1).cast("bigint"))),
        )
        join_keys = ["tok", "__salt"]
    cand = (
        left.join(right, join_keys)
        .filter(
            (F.col("left_id") < F.col("right_id"))
            & (F.col("alen") >= F.lit(threshold) * F.col("blen"))
            & (F.col("blen") >= F.lit(threshold) * F.col("alen"))
        )
        .select("left_id", "right_id")
        .distinct()
    )
    a = base.select(F.col("id").alias("left_id"), F.col("__set").alias("set_a"))
    b = base.select(F.col("id").alias("right_id"), F.col("__set").alias("set_b"))
    if broadcast_verify:
        # same device as containment_join_prefix (round 10): on
        # candidate-dense corpora the sort-merge verify shuffles every
        # candidate pair with both set arrays attached; when the
        # hashed set table fits executor memory, broadcasting it keeps
        # the pair stream shuffle-free. Default off: at corpus scale
        # the set table exceeds executor memory and the sort-merge
        # plan (slim id-pair shuffles) is the right one.
        a, b = F.broadcast(a), F.broadcast(b)
    verified = cand.join(a, "left_id").join(b, "right_id")
    inter = F.size(F.array_intersect("set_a", "set_b")).cast("double")
    union = (F.size("set_a") + F.size("set_b")).cast("double") - inter
    jac = F.round(inter / F.greatest(union, F.lit(1.0)), 6)
    return verified.select("left_id", "right_id", jac.alias("jaccard")).filter(
        F.col("jaccard") >= threshold
    )


def containment_join_prefix(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram: int = 1,
    threshold: float = 0.8,
    observation=None,
    broadcast_verify: bool = False,
) -> DataFrame:
    """EXACT containment-threshold self-join (round 9): pairs where
    ``|S(inner) ∩ S(outer)| / |S(inner)| >= t`` — the ASYMMETRIC
    near-dup relation Jaccard misses: a document quoted inside a
    larger wrapper page has high containment but low Jaccard, and
    containment is the standard screen for quote/boilerplate
    subsumption in pre-training dedup.

    Prefix theorem (containment form): if ``|A∩B| >= t·|A|`` then A
    shares a token with B among A's first ``|A| - ceil(t·|A|) + 1``
    frequency-ordered tokens — so only the INNER side truncates to a
    prefix (reusing the Jaccard prefix builder; the formula is
    identical) while the outer side indexes ALL its tokens. The
    rarest-first global order keeps the candidate equi-join fan-out
    minimal; a size filter (``|B| >= t·|A|``) prunes before the exact
    verify. No cartesian, no driver-side data — the same AllPairs
    skeleton as ``jaccard_join_prefix``, one side wider.

    Output: (inner_id, outer_id, containment) with inner != outer —
    asymmetric, so both directions can appear.

    ``observation`` (round 10, verdict-r9 item 6): an optional
    ``pyspark.sql.Observation``; when given, the plan records
    ``raw_candidates`` (token-match join rows BEFORE the distinct —
    the equi-join fan-out, the quantity whose growth decides whether
    the prefix filter holds at scale) and ``candidate_pairs_approx``
    (HLL-approximate distinct pairs entering the exact verify; observe
    forbids exact DISTINCT aggregates) as free riders on the job — no
    extra scan, readable from ``observation.get`` after any action."""
    if not (0.0 < threshold <= 1.0):
        raise ValueError("threshold must be in (0, 1]")
    toks = F.array_distinct(
        shingles(tokenize(F.col(text_col)), ngram)
        if ngram > 1
        else tokenize(F.col(text_col))
    )
    # hashed end-to-end (round 10): tokens become xxhash64 longs at
    # the first map — the candidate equi-join keys AND the verify-set
    # payloads are 8-byte longs, never ~25-byte shingle strings.
    # Containment is preserved up to 64-bit collisions (negligible,
    # same bound as shingle_hash_sets); the brute-force STRING oracle
    # in the registry stays the independent exactness check. Measured
    # at the x64 weak-scaling point: the string verify payload (37M
    # candidate pairs x two ~1KB arrays) spilled past the sandbox
    # disk; the hashed pipeline fits.
    # PERSIST the hashed sets (round 13, guide §5): this one frame
    # feeds FOUR plan branches — the prefix build (via the ``base``
    # pass-through below), the outer token index, and both verify
    # sides — so the uncached shape re-ran the tokenize+shingle+hash
    # pass five times per query (measured 3.54s -> 2.42s at sf0.1;
    # at corpus scale that is five full scans -> one). Hashed LONG
    # sets serialize compactly (the round-8 lesson: caching pays for
    # 8-byte elements, loses for strings).
    base = df.select(
        F.col(id_col).alias("id"),
        F.transform(toks, lambda t: F.xxhash64(t)).alias("__set"),
    ).persist()
    inner = _jaccard_prefix_rows(
        df, id_col, text_col, ngram, threshold, base=base
    ).select(
        F.col("id").alias("inner_id"), F.col("len").alias("alen"), "tok"
    )
    outer = base.select(
        F.col("id").alias("outer_id"),
        F.size("__set").alias("blen"),
        F.explode("__set").alias("tok"),
    )
    pre = (
        inner.join(outer, "tok")
        .filter(
            (F.col("inner_id") != F.col("outer_id"))
            & (F.col("blen") >= F.lit(threshold) * F.col("alen"))
        )
        .select("inner_id", "outer_id")
    )
    if observation is not None:
        pre = pre.observe(
            observation,
            F.count(F.lit(1)).alias("raw_candidates"),
            F.approx_count_distinct(
                F.struct("inner_id", "outer_id")
            ).alias("candidate_pairs_approx"),
        )
    cand = pre.distinct()
    a = base.select(F.col("id").alias("inner_id"), F.col("__set").alias("set_a"))
    b = base.select(F.col("id").alias("outer_id"), F.col("__set").alias("set_b"))
    if broadcast_verify:
        # candidate-DENSE corpora (templated/duplicate-heavy): the
        # sort-merge verify shuffles every candidate pair WITH both
        # set arrays attached — the widest intermediate in the plan
        # (measured 33+ GB at the x64 weak-scaling point). When the
        # per-doc set table fits executor memory (hashed sets: 8 bytes
        # x ~50 shingles x n_docs — ~140 MB at 320k docs), broadcasting
        # it turns both verify joins into broadcast-hash joins and the
        # pair stream never shuffles at all. Caller-decided: at true
        # corpus scale (set table >> executor memory) keep False and
        # let the sort-merge plan shuffle slim (id, id) pairs.
        a, b = F.broadcast(a), F.broadcast(b)
    verified = cand.join(a, "inner_id").join(b, "outer_id")
    inter = F.size(F.array_intersect("set_a", "set_b")).cast("double")
    cont = F.round(
        inter / F.greatest(F.size("set_a").cast("double"), F.lit(1.0)), 6
    )
    out = verified.select(
        "inner_id", "outer_id", cont.alias("containment")
    ).filter(F.col("containment") >= threshold)
    # ADVICE r13 / verdict item 5: the persisted hashed-set frame is
    # released by the caller via dedup.release(out) after its action.
    return _track_persist(out, base)


# ---- MinHash + LSH ------------------------------------------------------

def shingle_sets(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", ngram: int = 3
) -> DataFrame:
    """(id, __set: array<string>) — distinct word n-gram shingles per
    doc. The shared upstream of signatures AND exact-Jaccard verify;
    compute it once and persist when both consumers appear in one plan
    (Spark does not dedupe common subplans across DataFrame branches)."""
    sh = F.array_distinct(shingles(F.col("__tokens"), ngram))
    return _tokens(df, id_col, text_col).select("id", sh.alias("__set"))


def shingle_hash_sets(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", ngram: int = 3
) -> DataFrame:
    """(id, __set: array<long>) — shingle sets pre-hashed to 64-bit.
    Set cardinality (and hence Jaccard) is preserved up to 64-bit
    collisions (~n^2/2^65, negligible); every downstream step gets
    cheaper: 8-byte elements shuffle/intersect instead of ~25-byte
    strings, and signature permutations hash a fixed-width long."""
    sh = F.array_distinct(
        F.transform(shingles(F.col("__tokens"), ngram), lambda g: F.xxhash64(g))
    )
    return _tokens(df, id_col, text_col).select("id", sh.alias("__set"))


def _tokens(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, __tokens): the tokens bound as a column, which ``shingles``
    reads once per slice; passed the ``tokenize`` expression instead,
    it would run the tokenizer that many times per row."""
    return df.select(F.col(id_col).alias("id"), tokenize(F.col(text_col)).alias("__tokens"))


# XXH64 primes (public domain xxHash; the same constants Spark's
# XxHash64 expression uses) — for the numpy replay of xxhash64(long).
_XXH_P1 = 0x9E3779B185EBCA87
_XXH_P2 = 0xC2B2AE3D27D4EB4F
_XXH_P3 = 0x165667B19E3779F9
_XXH_P4 = 0x85EBCA77C2B2AE63
_XXH_P5 = 0x27D4EB2F165667C5


def _xxh64_long_np(v_i64, seed=42):
    """Vectorized XXH64 of int64 values (8-byte two's-complement
    input), bit-identical to Spark's ``xxhash64`` expression on a
    LongType column (XXH64.hashLong, default seed 42). ``seed`` is an
    int or an int64 array of one seed per value: Spark's multi-column
    ``xxhash64`` hashes each column with the previous column's hash as
    the seed. Pinned against the JVM expression in tests/test_dedup.py."""
    import numpy as np

    P1, P2 = np.uint64(_XXH_P1), np.uint64(_XXH_P2)
    with np.errstate(over="ignore"):
        v = v_i64.view(np.uint64)
        k1 = v * P2
        k1 = ((k1 << np.uint64(31)) | (k1 >> np.uint64(33))) * P1
        seed = np.asarray(seed, dtype=np.int64).view(np.uint64)
        h = (seed + np.uint64(_XXH_P5) + np.uint64(8)) ^ k1
        h = ((h << np.uint64(27)) | (h >> np.uint64(37))) * P1 + np.uint64(_XXH_P4)
        h ^= h >> np.uint64(33)
        h *= P2
        h ^= h >> np.uint64(29)
        h *= np.uint64(_XXH_P3)
        h ^= h >> np.uint64(32)
        return h.view(np.int64)


def _oph_signature_batch(batch, k: int):
    """Arrow-batch OPH kernel: (id, __set: list<int64>) record batch ->
    (id, sig: list<int64> length k). The numpy replay of the JVM
    formulation in ``_signature_from_sets(impl="jvm")`` — hash each
    element (xxhash64 replay), signed-min per pmod(h, k) bucket,
    circular densification — bit-identical by construction and pinned
    in tests/test_dedup.py. Docs with null/empty sets emit no row; null
    elements hash like the JVM path's ``xxhash64(null)``."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    ids = batch.column(0)
    sets = batch.column(1)
    sig_type = pa.list_(pa.int64())
    out_schema = pa.schema([pa.field("id", ids.type), pa.field("sig", sig_type)])
    lengths = np.asarray(
        pc.fill_null(pc.list_value_length(sets), 0), dtype=np.int64
    )
    keep = lengths > 0
    n_out = int(keep.sum())
    if n_out == 0:
        return pa.RecordBatch.from_arrays(
            [ids.slice(0, 0), pa.array([], type=sig_type)], schema=out_schema
        )
    # flatten() concatenates the sub-lists in order (null/empty lists
    # contribute nothing), so values align with the kept rows
    flat = sets.flatten()
    n_null = flat.null_count
    values = np.asarray(flat.fill_null(0) if n_null else flat, dtype=np.int64)
    doc_idx = np.repeat(np.arange(n_out, dtype=np.int64), lengths[keep])

    h = _xxh64_long_np(values)
    if n_null:
        # a null element hashes as Spark's xxhash64(null): the seed
        h[np.asarray(flat.is_null())] = 42
    b = np.mod(h, k)  # numpy mod sign follows the (positive) divisor == pmod
    slot = doc_idx * k + b
    bm = np.full(n_out * k, np.iinfo(np.int64).max, dtype=np.int64)
    np.minimum.at(bm, slot, h)  # signed min == F.min over LongType
    filled = np.zeros(n_out * k, dtype=bool)
    filled[slot] = True
    bm = bm.reshape(n_out, k)
    filled = filled.reshape(n_out, k)

    # circular densification: carry seeded with the LAST non-empty
    # bucket, then forward-fill (positions before the first non-empty
    # bucket read the wraparound seed) — the JVM pass's exact rule
    col = np.arange(k, dtype=np.int64)
    last_idx = np.maximum.accumulate(np.where(filled, col, -1), axis=1)
    rows = np.arange(n_out, dtype=np.int64)[:, None]
    seed_vals = bm[rows[:, 0], last_idx[:, -1]]
    sig = np.where(
        last_idx >= 0, bm[rows, np.maximum(last_idx, 0)], seed_vals[:, None]
    )

    id_out = ids.filter(pa.array(keep))
    sig_arr = pa.ListArray.from_arrays(
        pa.array(np.arange(n_out + 1, dtype=np.int64) * k, type=pa.int32()),
        pa.array(sig.reshape(-1)),
    )
    return pa.RecordBatch.from_arrays([id_out, sig_arr], schema=out_schema)


def _signature_from_sets(sets: DataFrame, k: int, impl: str = "arrow") -> DataFrame:
    """One-permutation MinHash (OPH; Li/Owen/Zhang, NIPS 2012) from
    precomputed shingle sets: hash each shingle ONCE, bin the hash into
    one of ``k`` buckets by value, keep the per-bucket min, and fill
    empty buckets by circular (rotation) densification so every doc
    gets a dense length-``k`` signature. Collision probability per
    bucket still estimates Jaccard, like k independent permutations.

    ``impl="arrow"`` (default since round 14, guide §4.2): the whole
    bucket-min + densification runs as ONE mapInArrow pass over the set
    arrays — vectorized numpy per Arrow batch, hashing with a
    bit-exact xxhash64 replay — so the former explode + 64-buffer hash
    aggregate + its Exchange disappear entirely (the signature becomes
    a map-only stage fused behind the scan/cache; measured at sf0.1:
    signature stage 2.33s -> 1.52s and the Exchange count of every
    MinHash query drops by one per signature build). ``impl="jvm"``
    keeps the pure-Catalyst formulation — the reference the Arrow
    kernel is pinned bit-identical against in tests/test_dedup.py, and
    the fallback where Arrow/numpy workers are unavailable.

    Why the JVM shape is what it is: the classic k-permutation
    formulation evaluates k hash+min-buffer updates PER SHINGLE
    (measured 2.9s at sf0.1); OPH does one hash and one aggregate
    update per shingle (2.1s here, and the gap widens with k). Shuffle
    volume is identical — partial aggs reduce to <= docs x k rows per
    partition either way. Accepts string or pre-hashed (long) sets —
    xxhash64 takes both (the Arrow kernel requires pre-hashed LONG
    sets, which every in-module caller provides via shingle_hash_sets).

    (An even earlier formulation — k nested ``array_min(transform())``
    HOFs — re-tokenized the document k times in interpreted mode:
    ~300x slower at sf0.1. HOF lambdas never enter codegen; the hot
    per-shingle path must stay in flat exprs. The interpreted
    densification HOF below runs once per DOC over k steps — off the
    hot path.)
    """
    from pyspark.sql import types as T

    if impl == "arrow" and isinstance(
        sets.schema["__set"].dataType, T.ArrayType
    ) and isinstance(sets.schema["__set"].dataType.elementType, T.LongType):
        out_schema = T.StructType(
            [sets.schema["id"], T.StructField("sig", T.ArrayType(T.LongType()))]
        )

        def gen(batches):
            for batch in batches:
                yield _oph_signature_batch(batch, k)

        return sets.select("id", "__set").mapInArrow(gen, out_schema)
    exploded = sets.select("id", F.explode("__set").alias("g")).select(
        "id", F.xxhash64("g").alias("h")
    )
    # ONE exchange: k conditional mins in a single hash aggregate (the
    # partial-agg row per doc is one wide row, not <=k narrow rows, and
    # the earlier two-stage groupBy(id,b) -> groupBy(id) shape paid a
    # second full shuffle round + collect_list/map build; measured
    # 3.2s -> 2.7s for the signature stage at sf0.1).
    withb = exploded.select(
        "id", F.pmod("h", F.lit(k)).cast("int").alias("b"), "h"
    )
    bm = (
        withb.groupBy("id")
        .agg(*[F.min(F.when(F.col("b") == i, F.col("h"))).alias(f"m{i}") for i in range(k)])
        .select("id", F.array(*[f"m{i}" for i in range(k)]).alias("bm"))
    )

    # ONE circular pass (round-13 optimization, guide §1/§4 measure-
    # first): the old form ran TWO passes (2k steps) so the carry could
    # wrap around; precomputing the wrap value — the LAST non-empty
    # bucket, `element_at(array_compact(bm), -1)` — seeds the carry and
    # halves the interpreted step count (HOF lambdas never enter
    # codegen, so step count IS the cost). The accumulator is a plain
    # array (last element = running carry, seeded so it is never
    # empty), not a (arr, carry) struct: one allocation per step
    # instead of two. Measured on the sf0.1 corpus signature stage:
    # 4.59s -> 3.14s, output bit-identical (pinned in
    # tests/test_dedup.py — OPH signatures are order-exact).
    dense = F.slice(
        F.aggregate(
            F.sequence(F.lit(1), F.lit(k)),
            F.array(F.element_at(F.array_compact("bm"), -1)),
            lambda acc, i: F.concat(
                acc,
                F.array(
                    F.coalesce(
                        F.try_element_at("bm", i.cast("int")),
                        F.element_at(acc, -1),
                    )
                ),
            ),
        ),
        2,
        k,
    )
    return bm.select("id", dense.alias("sig"))


def minhash_signature(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", k: int = 64, ngram: int = 3
) -> DataFrame:
    """MinHash signatures over hashed word shingles (see
    _signature_from_sets). Always derives from ``shingle_hash_sets`` so
    every signature in the module — batch pipelines and the incremental
    corpus index — comes from ONE hash family; signatures from
    different families estimate garbage agreement.

    Output: (id, sig: array<long> length k). Docs with no shingles
    (fewer than ``ngram`` tokens) produce no row.
    """
    return _signature_from_sets(shingle_hash_sets(df, id_col, text_col, ngram), k)


def minhash_lsh_pairs(
    signatures: DataFrame,
    bands: int = 16,
    rows_per_band: int = 4,
) -> DataFrame:
    """LSH banding: split each signature into ``bands`` bands of
    ``rows_per_band`` hashes; docs sharing any full band land in the
    same bucket. Candidate pairs = self-join on (band_id, band_hash) —
    an equi-join, O(n*b) shuffle, never O(n^2).

    Output: distinct candidate (left_id, right_id), left < right.
    """
    k = bands * rows_per_band
    banded = signatures.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"),
                        F.xxhash64(*[F.col("sig")[b * rows_per_band + r] for r in range(rows_per_band)]).alias(
                            "band_hash"
                        ),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band"),
    ).select("id", "band.band_id", "band.band_hash")
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("left_id"), F.col("b.id").alias("right_id"))
        .distinct()
    )


# Most hashed-shingle rows (one per distinct shingle of a doc) that
# ``minhash_near_dups`` collects to band and verify on the driver, and
# most candidate pairs it verifies there; a larger corpus runs the
# Catalyst banding plan. 0 keeps every run in Spark.
_DRIVER_MAX_ROWS = 1_000_000


def _jaccard(inter: Column, union: Column) -> Column:
    """Exact Jaccard from a pair's intersection and union sizes (both
    double), rounded to 6 digits: the one expression both paths of
    ``minhash_near_dups`` threshold."""
    return F.round(inter / F.greatest(union, F.lit(1.0)), 6)


def _runs(lengths):
    """(run, step) of each element of consecutive runs of ``lengths``."""
    import numpy as np

    run = np.repeat(np.arange(len(lengths)), lengths)
    return run, np.arange(len(run)) - (np.cumsum(lengths) - lengths)[run]


def _intersections(h, offsets, set_a, set_b):
    """|A ∩ B| for each pair (``set_a[i]``, ``set_b[i]``) of set rows,
    where set row s holds the distinct ``h[offsets[s]:offsets[s + 1]]``:
    equal neighbours after sorting each pair's elements together,
    verified in chunks of about ``_DRIVER_MAX_ROWS`` elements."""
    import numpy as np

    sizes = np.diff(offsets)
    cost = np.cumsum(sizes[set_a] + sizes[set_b])
    inter = np.zeros(len(set_a), dtype=np.int64)
    lo = 0
    while lo < len(set_a):
        base = cost[lo - 1] if lo else 0
        hi = max(int(np.searchsorted(cost, base + _DRIVER_MAX_ROWS, side="right")), lo + 1)
        tags, vals = [], []
        for sets in (set_a[lo:hi], set_b[lo:hi]):
            run, step = _runs(sizes[sets])
            tags.append(run)
            vals.append(h[offsets[sets][run] + step])
        tag, val = np.concatenate(tags), np.concatenate(vals)
        order = np.lexsort((val, tag))
        tag, val = tag[order], val[order]
        same = (tag[1:] == tag[:-1]) & (val[1:] == val[:-1])
        inter[lo:hi] = np.bincount(tag[1:][same], minlength=hi - lo)
        lo = hi
    return inter


def _band_keys(sig):
    """(n, bands) band hashes of (n, bands, rows_per_band) signature
    values, as ``minhash_lsh_pairs`` hashes each band: Spark's
    multi-column ``xxhash64`` starts from seed 42 and hashes each column
    with the previous column's hash as the seed."""
    import numpy as np

    keys = np.full(sig.shape[:2], 42, dtype=np.int64)
    for r in range(sig.shape[2]):
        keys = _xxh64_long_np(sig[:, :, r], keys)
    return keys


def _driver_near_dups(spark, table, threshold, bands, rows_per_band):
    """``minhash_near_dups`` over collected (row, id, h) rows, one per
    hashed shingle of set row ``row``: the OPH kernel's signatures,
    their ``_band_keys``, the distinct id pairs that share a band key,
    and exact Jaccard for each pair of their set rows, which Spark
    rounds and thresholds over a local relation.
    None when the band buckets or the candidates' set rows make more
    than ``_DRIVER_MAX_ROWS`` pairs, found before any pair is built."""
    import numpy as np
    import pyarrow as pa

    ids, rank = np.unique(table["id"].to_numpy(), return_inverse=True)
    _, set_row = np.unique(table["row"].to_numpy(), return_inverse=True)
    order = np.argsort(set_row, kind="stable")
    h = table["h"].to_numpy()[order]
    offsets = np.append(0, np.cumsum(np.bincount(set_row))).astype(np.int64)
    n_sets = len(offsets) - 1
    set_rank = rank[order][offsets[:-1]]  # each set row's id, as its rank in ids

    batch = pa.RecordBatch.from_arrays(
        [pa.array(np.arange(n_sets)), pa.ListArray.from_arrays(offsets.astype(np.int32), h)],
        names=["id", "__set"],
    )
    sig = _oph_signature_batch(batch, bands * rows_per_band).column(1).values.to_numpy()
    band_hash = _band_keys(sig.reshape(n_sets, bands, rows_per_band))

    # every pair of set rows in one (band, band hash) bucket, as sorted
    # positions p < q of the bucket
    band = np.tile(np.arange(bands), n_sets)
    band_hash = band_hash.reshape(-1)
    by_key = np.lexsort((band_hash, band))
    member = by_key // bands
    band, band_hash = band[by_key], band_hash[by_key]
    first = np.ones(len(by_key), dtype=bool)
    first[1:] = (band[1:] != band[:-1]) | (band_hash[1:] != band_hash[:-1])
    start = np.flatnonzero(first)
    size = np.diff(np.append(start, len(by_key)))
    if int((size * (size - 1) // 2).sum()) > _DRIVER_MAX_ROWS:
        return None
    later = np.repeat(start + size, size) - np.arange(len(by_key)) - 1
    p, step = _runs(later)
    a, b = set_rank[member[p]], set_rank[member[p + 1 + step]]
    n_ids = max(len(ids), 1)
    pair = np.unique(np.minimum(a, b)[a != b] * n_ids + np.maximum(a, b)[a != b])
    lo, hi = np.divmod(pair, n_ids)

    # each candidate id pair verifies every pair of the two ids' set rows
    by_rank = np.argsort(set_rank, kind="stable")
    count = np.bincount(set_rank, minlength=len(ids))
    rank_offsets = np.cumsum(count) - count
    n_pairs = count[lo] * count[hi]
    if int(n_pairs.sum()) > _DRIVER_MAX_ROWS:
        return None
    c, j = _runs(n_pairs)
    set_a = by_rank[rank_offsets[lo[c]] + j // count[hi[c]]]
    set_b = by_rank[rank_offsets[hi[c]] + j % count[hi[c]]]

    inter = _intersections(h, offsets, set_a, set_b)
    union = np.diff(offsets)[set_a] + np.diff(offsets)[set_b] - inter
    id_type = table.schema.field("id").type
    pairs = local_frame(spark, pa.table({
        "left_id": pa.array(ids[set_rank[set_a]], id_type),
        "right_id": pa.array(ids[set_rank[set_b]], id_type),
        "inter": pa.array(inter, pa.float64()),
        "union": pa.array(union, pa.float64()),
    }))
    jac = _jaccard(F.col("inter"), F.col("union"))
    return pairs.select("left_id", "right_id", jac.alias("jaccard")).filter(
        F.col("jaccard") >= threshold
    )


def minhash_near_dups(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    bands: int = 16,
    rows_per_band: int = 4,
    ngram: int = 3,
    cache_sets: bool = True,
) -> DataFrame:
    """Full MinHash near-dup pipeline: signatures -> LSH candidates ->
    exact-Jaccard verify on candidates only (precision 1.0; see
    ``minhash_near_dups_estimated`` for the verify-free variant).

    Sets are pre-hashed to longs (shingle_hash_sets): Jaccard is
    preserved modulo 64-bit collisions and every shuffle/intersect
    moves 8-byte elements instead of strings. A doc with a null id
    pairs with nothing. A doc id that repeats gives one row per pair of
    its set rows with the other id's.

    Up to ``_DRIVER_MAX_ROWS`` hashed-shingle rows (and a positive
    ``threshold``), one ``session.collect_below`` decides the gate and
    collects them, and the rest runs on the driver in numpy, with the
    same hash family, signatures and band keys; the result is a local relation that Spark rounds and
    thresholds, so collecting it runs no further job, and it persists
    nothing. Above the gate, or when the band buckets hold more than
    ``_DRIVER_MAX_ROWS`` candidate pairs, the Catalyst plan runs.

    In the plan, the shingle sets feed three branches (signatures +
    both verify sides); ``cache_sets`` persists them so
    tokenize/shingle/hash runs once. Measured verdict (sf0.1, 5k docs):
    caching LONG sets wins ~2x (they serialize cheaply), while caching
    the earlier STRING sets LOST ~6x to recompute — whether a cache
    pays depends on element width, not just recompute cost. At 100 TB
    the cache spills to executor-local disk; disable to trade
    recompute for storage. The plan's persisted frames are released
    with ``release(out)`` after the action.

    Output: (left_id, right_id, jaccard >= threshold).
    """
    sets = shingle_hash_sets(df, id_col, text_col, ngram)
    # a threshold of 0 or less also keeps the zero rows of a repeated
    # id's empty set rows, which the collected shingle rows do not hold
    if threshold > 0:
        table = collect_below(
            sets.where(F.col("id").isNotNull())
            .select(F.monotonically_increasing_id().alias("row"), "id", "__set")
            .select("row", "id", F.explode("__set").alias("h")),
            _DRIVER_MAX_ROWS,
        )
        if table is not None:
            out = _driver_near_dups(df.sparkSession, table, threshold, bands, rows_per_band)
            if out is not None:
                return out
        del table
    if cache_sets:
        sets = sets.persist()
    # ALWAYS persist signatures: they are tiny (docs x k longs) and the
    # LSH banding self-joins them — without the cache both join sides
    # re-run the whole tokenize->shingle->hash pipeline, i.e. two full
    # corpus scans at 100 TB. (Contrast cache_sets above: the shingle
    # sets are corpus-sized, so caching THEM usually loses.)
    sigs = _signature_from_sets(sets, k=bands * rows_per_band).persist()
    cands = minhash_lsh_pairs(sigs, bands, rows_per_band)
    joined = (
        cands.join(sets.withColumnRenamed("id", "left_id").withColumnRenamed("__set", "set_a"), "left_id")
        .join(sets.withColumnRenamed("id", "right_id").withColumnRenamed("__set", "set_b"), "right_id")
    )
    inter = F.size(F.array_intersect("set_a", "set_b")).cast("double")
    union = (F.size("set_a") + F.size("set_b")).cast("double") - inter
    out = joined.select("left_id", "right_id", _jaccard(inter, union).alias("jaccard")).filter(
        F.col("jaccard") >= threshold
    )
    # caller releases via dedup.release(out) after its action (verdict
    # item 5); the bench's per-query cache clearing already covers it.
    return _track_persist(out, sets if cache_sets else None, sigs)


def minhash_near_dups_estimated(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    bands: int = 16,
    rows_per_band: int = 4,
    ngram: int = 3,
) -> DataFrame:
    """MinHash near-dups with Jaccard ESTIMATED from signature
    agreement (fraction of matching minhashes) instead of exact-set
    verify — the cheapest scale path: after signatures, only the
    k-long vectors move, never the shingle sets. With k = bands x
    rows_per_band = 64 the estimator's std dev is ~sqrt(j(1-j)/64)
    <= 0.0625 — thresholding is approximate (both false accepts and
    rejects near the boundary), which fuzzy dedup tolerates by design.

    Output: (left_id, right_id, jaccard_est >= threshold).
    """
    k = bands * rows_per_band
    sigs = _signature_from_sets(
        shingle_hash_sets(df, id_col, text_col, ngram), k
    ).persist()
    cands = minhash_lsh_pairs(sigs, bands, rows_per_band)
    joined = (
        cands.join(sigs.withColumnRenamed("id", "left_id").withColumnRenamed("sig", "sig_a"), "left_id")
        .join(sigs.withColumnRenamed("id", "right_id").withColumnRenamed("sig", "sig_b"), "right_id")
    )
    matches = F.size(
        F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda m: m)
    )
    est = F.round(matches.cast("double") / F.lit(float(k)), 6)
    out = joined.select("left_id", "right_id", est.alias("jaccard_est")).filter(
        F.col("jaccard_est") >= threshold
    )
    return _track_persist(out, sigs)


# ---- SimHash ------------------------------------------------------------

_UNACCENT_TABLE = str.maketrans(
    "áàâäãåÁÀÂÄÃÅéèêëÉÈÊËíìîïÍÌÎÏóòôöõÓÒÔÖÕúùûüÚÙÛÜñÑçÇýÿÝ",
    "aaaaaaAAAAAAeeeeEEEEiiiiIIIIoooooOOOOOuuuuUUUUnNcCyyY",
)


def _simhash_batch(texts: "pd.Series") -> "pd.Series":
    """Shared Arrow-batch SimHash kernel (md5-prefix token hashes with
    a per-batch cache, vectorized bit-majority) — the body both the
    ``simhash`` operator and the streaming ``simhash_udf`` wrap.

    Round 11: the token hash is the first 8 md5 bytes (big-endian) and
    tokenization is lower → accent-fold (the engine's pinned table) →
    split on the EXPLICIT ASCII class ``[^a-z0-9_]+`` — every step
    reproducible bit-for-bit by a SQL engine (md5 + strip_accents +
    the same split regex), which turns the whole SimHash family into
    value-hash-oracle territory: fingerprints are deterministic
    integers, downstream Hamming joins are exact integer arithmetic,
    and pigeonhole blocking has recall 1 by theorem. (Previously
    blake2b + Python's unicode ``\\W`` — neither replayable in SQL.)
    The explicit class equals Java's ASCII ``\\W`` after lower(), so
    it also matches the JVM-side tokenize contract."""
    import hashlib
    import re

    import numpy as np

    shifts = np.arange(64, dtype=np.uint64)
    powers = (np.uint64(1) << shifts).astype(np.uint64)
    hcache: dict[str, int] = {}

    def th(tok: str) -> int:
        h = hcache.get(tok)
        if h is None:
            h = int.from_bytes(hashlib.md5(tok.encode()).digest()[:8], "big")
            hcache[tok] = h
        return h

    out = np.zeros(len(texts), dtype=np.int64)
    for i, t in enumerate(texts):
        folded = (t or "").lower().translate(_UNACCENT_TABLE)
        toks = {x for x in re.split(r"[^a-z0-9_]+", folded) if x}
        if not toks:
            continue
        hs = np.array([th(tok) for tok in toks], dtype=np.uint64)
        bits = (hs[:, None] >> shifts[None, :]) & np.uint64(1)
        ones = bits.sum(axis=0, dtype=np.int64)
        sh = powers[2 * ones > len(hs)].sum(dtype=np.uint64)
        out[i] = np.int64(sh.astype(np.int64))
    return pd.Series(out)


def simhash_udf():
    """The SimHash pandas UDF as a reusable factory (round 7): lets a
    STREAMING pipeline attach the fingerprint with ``withColumn``
    (pandas UDFs run identically on micro-batches) without the
    id/text projection ``simhash`` applies."""

    @F.pandas_udf("long")
    def _simhash(texts: pd.Series) -> pd.Series:
        return _simhash_batch(texts)

    return _simhash


def simhash(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """64-bit SimHash fingerprint per document.

    The bit-majority accumulation is awkward as 64 separate aggregates,
    so this is the one dedup operator using a pandas UDF — Arrow-batched
    and numpy-vectorized per batch (not per row). Token hashes are
    md5 prefixes (deterministic across runs, processes, AND engines —
    see _simhash_batch round-11 note).

    Output: (id, simhash: long).
    """

    @F.pandas_udf("long")
    def _simhash(texts: pd.Series) -> pd.Series:
        return _simhash_batch(texts)

    return df.select(F.col(id_col).alias("id"), _simhash(F.col(text_col)).alias("simhash"))


def _simhash_chunks(fingerprints: DataFrame, chunks: int, width: int) -> DataFrame:
    """Pigeonhole blocking keys: explode each 64-bit fingerprint into
    its ``chunks`` fixed-width slices — any pair within the Hamming
    budget must agree on at least one full slice."""
    # width 64 (max_hamming=0, one chunk): the full-width mask 2^64-1
    # overflows a literal long — the slice is the whole fingerprint, so
    # skip the mask (signed -1 would also work but reads as magic)
    def slice_val(c: int) -> Column:
        shifted = F.shiftrightunsigned(F.col("simhash"), c * width)
        if width >= 64:
            return shifted
        return shifted.bitwiseAND(F.lit((1 << width) - 1))

    return fingerprints.select(
        "id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk_id"),
                        slice_val(c).alias("chunk_val"),
                    )
                    for c in range(chunks)
                ]
            )
        ).alias("ch"),
    ).select("id", "simhash", "ch.chunk_id", "ch.chunk_val")


def simhash_near_dups(fingerprints: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs by Hamming distance over SimHash fingerprints.

    Blocking: split the 64-bit fingerprint into ``max_hamming + 1``
    chunks — any pair within the distance budget must agree on at least
    one full chunk (pigeonhole), so candidates come from equi-joins on
    (chunk_id, chunk_value), never a cross join.
    """
    chunks = max_hamming + 1
    width = 64 // chunks
    exploded = _simhash_chunks(fingerprints, chunks, width)
    a, b = exploded.alias("a"), exploded.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.chunk_id") == F.col("b.chunk_id"))
            & (F.col("a.chunk_val") == F.col("b.chunk_val"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("left_id"),
            F.col("b.id").alias("right_id"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return cands.select(
        "left_id", "right_id", hamming.cast("long").alias("hamming")
    ).filter(F.col("hamming") <= max_hamming)


def simhash_incremental(
    batch_fps: DataFrame, index_fps: DataFrame, max_hamming: int = 3
) -> DataFrame:
    """Ingest-shape SimHash near-dup check: a NEW batch of fingerprints
    against the PREBUILT fingerprint index of resident documents —
    cross-corpus pairs only, never batch-vs-batch or index-vs-index.
    The SimHash sibling of ``dedup_exact_incremental`` /
    ``minhash_incremental``: both sides explode the same pigeonhole
    chunk keys, candidates come from the (chunk_id, chunk_val)
    equi-join (O(batch x chunks) shuffle, index side prunable to the
    batch's key set), exact Hamming verify on collisions.

    Output: (batch_id, index_id, hamming <= max_hamming).
    """
    chunks = max_hamming + 1
    width = 64 // chunks
    index_fps = check_family(index_fps, SIMHASH_FAMILY)
    a = _simhash_chunks(batch_fps, chunks, width).alias("a")
    b = _simhash_chunks(index_fps, chunks, width).alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.chunk_id") == F.col("b.chunk_id"))
            & (F.col("a.chunk_val") == F.col("b.chunk_val")),
        )
        .select(
            F.col("a.id").alias("batch_id"),
            F.col("b.id").alias("index_id"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return cands.select(
        "batch_id", "index_id", hamming.cast("long").alias("hamming")
    ).filter(F.col("hamming") <= max_hamming)


def near_dup_clusters(pairs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Transitive near-dup clusters: connected components over the
    near-dup pair graph (A~B, B~C => {A,B,C} even if A!~C directly —
    the semantics fuzzy dedup actually needs; pairwise-only keep-rules
    over-keep). Cluster label = min doc id in the cluster.

    Input: (left_id, right_id [, ...]) pairs from any near-dup family.
    Output: (id, cluster) — only docs that appear in some pair.
    """
    from providenciasbigdata_spark.operators.graph_algos import connected_components

    return connected_components(pairs, src="left_id", dst="right_id").select(
        F.col("id").alias(id_col), F.col("component").alias("cluster")
    )


def dedup_near(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    bands: int = 16,
    rows_per_band: int = 4,
    ngram: int = 3,
) -> DataFrame:
    """Fuzzy dedup end-to-end: MinHash LSH candidates -> exact-Jaccard
    verify -> transitive clusters -> keep the min-id doc per cluster
    (deterministic survivor rule). Docs in no cluster keep themselves.

    Output: the deduplicated frame (original columns).
    """
    pairs = minhash_near_dups(
        df, id_col, text_col, threshold=threshold,
        bands=bands, rows_per_band=rows_per_band, ngram=ngram,
    )
    clusters = near_dup_clusters(pairs, id_col=id_col)
    losers = clusters.filter(F.col(id_col) != F.col("cluster")).select(id_col)
    return df.join(losers, id_col, "left_anti")


# ---- incremental (new batch vs historical index) ------------------------

def dedup_exact_incremental(
    new_df: DataFrame,
    seen_hashes: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """Exact dedup of an incoming batch against a historical fingerprint
    index (one ``content_hash`` column): keeps rows whose normalized
    content was never seen. The production ingest shape — the history
    is a hash INDEX (16 bytes/doc), never the corpus itself; the
    anti-join shuffles only the small batch when the index is
    bucket/partitioned on content_hash.

    Intra-batch duplicates are also collapsed (min-id survivor) so the
    output can append straight into the index.
    """
    seen_hashes = check_family(seen_hashes, EXACT_FAMILY)
    batch = dedup_exact(new_df, text_col=text_col, id_col=new_df.columns[0])
    h = content_fingerprint(F.col(text_col)).alias("content_hash")
    hashed = batch.select(h, *batch.columns)
    return (
        hashed.join(seen_hashes.select("content_hash"), "content_hash", "left_anti")
        .drop("content_hash")
    )


def minhash_near_dups_incremental(
    new_df: DataFrame,
    corpus_sigs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bands: int = 16,
    rows_per_band: int = 4,
    ngram: int = 3,
) -> DataFrame:
    """Near-dup pairs between an incoming batch and a PRE-BUILT corpus
    signature index (from ``minhash_signature``, stored once — at 100TB
    that is docs x 64 longs, ~0.5% of the text). Bands the small batch,
    equi-joins it against the banded index: shuffle O(batch x bands)
    on the batch side; the index's banding is a map-side projection of
    a stored table, re-usable across batches if written bucketed on
    (band_id, band_hash).

    Jaccard is estimated from signature agreement (the corpus text is
    not assumed readable here). Output: (left_id=batch, right_id=corpus,
    jaccard_est) — NO self-pairs within the batch; run minhash_near_dups
    on the batch separately for those.
    """
    k = bands * rows_per_band
    corpus_sigs = check_family(corpus_sigs, MINHASH_FAMILY)
    new_sigs = _signature_from_sets(
        shingle_hash_sets(new_df, id_col, text_col, ngram), k
    )

    def banded(sigs):
        return sigs.select(
            "id",
            "sig",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(b).alias("band_id"),
                            F.xxhash64(
                                *[F.col("sig")[b * rows_per_band + r] for r in range(rows_per_band)]
                            ).alias("band_hash"),
                        )
                        for b in range(bands)
                    ]
                )
            ).alias("band"),
        ).select("id", "sig", "band.band_id", "band.band_hash")

    a = banded(new_sigs).alias("a")
    b = banded(corpus_sigs).alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash")),
        )
        .select(
            F.col("a.id").alias("left_id"),
            F.col("b.id").alias("right_id"),
            F.col("a.sig").alias("sig_a"),
            F.col("b.sig").alias("sig_b"),
        )
        .distinct()
    )
    matches = F.size(F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda m: m))
    est = F.round(matches.cast("double") / F.lit(float(k)), 6)
    return cands.select("left_id", "right_id", est.alias("jaccard_est"))


# ---- embedding cosine ---------------------------------------------------

def embedding_near_dups(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    left_filter=None,
) -> DataFrame:
    """Near-dup pairs by embedding cosine >= threshold. Exact pairwise
    (restrict with ``left_filter`` or go through
    operators.similarity.srp_lsh_pairs at scale).

    Output: (left_id, right_id, cosine) with left_id < right_id.
    """
    from providenciasbigdata_spark.compat.graph import dot, l2_norm

    # norms once per side; one dot fold per pair (see compat.graph.cosine)
    left = embeddings.select(
        F.col(id_col).alias("left_id"),
        F.col(vec_col).alias("va"),
        l2_norm(F.col(vec_col)).alias("na"),
    )
    if left_filter is not None:
        left = left.filter(left_filter(F.col("left_id")))
    right = embeddings.select(
        F.col(id_col).alias("right_id"),
        F.col(vec_col).alias("vb"),
        l2_norm(F.col(vec_col)).alias("nb"),
    )
    pairs = left.join(right, F.col("left_id") < F.col("right_id"))
    cos = dot(
        F.transform("va", lambda x: x.cast("double")),
        F.transform("vb", lambda x: x.cast("double")),
    ) / (F.col("na") * F.col("nb"))
    return pairs.select(
        "left_id", "right_id", F.round(cos, 6).alias("cosine")
    ).filter(F.col("cosine") >= threshold)


# Largest corpus ``dedup_embedding(candidates="auto")`` scores with the
# exact all-pairs kernel; a larger one is cluster-blocked.
_EXACT_MAX_ROWS = 20_000


def dedup_embedding(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    scale: float = 1.0,
    block_size: int = 4096,
    candidates: str = "auto",
    n_clusters: int = 16,
    kmeans_iter: int = 8,
    srp_bits: int = 12,
    srp_tables: int = 4,
) -> DataFrame:
    """Semantic (embedding-cluster) dedup, SemDeDup-shaped: cluster the
    cosine>=threshold near-dup graph into connected components and keep
    ONE deterministic survivor (min id) per component; isolated vectors
    are their own singleton components.

    ``candidates`` picks the pair-generation strategy — the knob that
    decides whether total compute is quadratic in corpus size:

    - ``"exact"``: tile-blocked exact all-pairs kernel. O(block^2)
      work/memory per task and nothing on the driver, but TOTAL compute
      is O(n^2) — correct answer, scale-killer default at training-set
      corpus sizes (100x data => 10^4x compute).
    - ``"cluster"``: the canonical SemDeDup recipe — k-means first,
      exact cosine only within each cluster; O(n^2/k) total for
      balanced clusters. Misses only cross-cluster pairs (precision
      1.0; recall pinned vs exact in tests).
    - ``"srp"``: SRP-LSH bucketed candidates, exact-cosine verified.
      O(n*tables) shuffle; recall grows with tables.
    - ``"auto"`` (default): exact at or below ``_EXACT_MAX_ROWS``
      (one count(*), answered from file footers), cluster-blocked
      above — small/fixture corpora keep the fully-verifiable exact
      path, large corpora never pay quadratic compute by default.

    The component fixed point is star-contraction CC (O(log^2 n)
    rounds), and survivor selection is one aggregate, regardless of
    strategy.

    Output: (survivor_id, n_members) — one row per component;
    n_members-1 rows of the corpus are dropped by this component.
    """
    from providenciasbigdata_spark.operators.graph_algos import connected_components
    from providenciasbigdata_spark.operators.similarity import (
        cluster_blocked_pairs,
        pairwise_cosine_blocked,
        srp_lsh_pairs,
    )

    if candidates == "auto":
        candidates = "exact" if embeddings.count() <= _EXACT_MAX_ROWS else "cluster"
    if candidates == "exact":
        edges = pairwise_cosine_blocked(
            embeddings, threshold, id_col=id_col, vec_col=vec_col,
            scale=scale, block_size=block_size,
        )
    elif candidates == "cluster":
        edges = cluster_blocked_pairs(
            embeddings, threshold, id_col=id_col, vec_col=vec_col,
            scale=scale, n_clusters=n_clusters, kmeans_iter=kmeans_iter,
            row_chunk=block_size,
        )
    elif candidates == "srp":
        from providenciasbigdata_spark.compat.graph import dot, l2_norm

        dim = len(embeddings.select(vec_col).first()[0])
        cand = srp_lsh_pairs(
            embeddings, dim, n_bits=srp_bits, tables=srp_tables, id_col=id_col
        )
        vecs = embeddings.select(
            F.col(id_col).alias("id"),
            F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"),
            l2_norm(F.col(vec_col)).alias("nrm"),
        )
        cand = (
            cand.join(vecs.withColumnRenamed("id", "left_id")
                      .withColumnRenamed("v", "va").withColumnRenamed("nrm", "na"),
                      "left_id")
            .join(vecs.withColumnRenamed("id", "right_id")
                  .withColumnRenamed("v", "vb").withColumnRenamed("nrm", "nb"),
                  "right_id")
        )
        cos = F.round(dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
                      * F.lit(float(scale)), 4)
        edges = cand.select(
            "left_id", "right_id", cos.alias("cosine")
        ).filter(F.col("cosine") >= threshold)
    else:
        raise ValueError(
            f"candidates must be one of 'auto'|'exact'|'cluster'|'srp', got {candidates!r}"
        )
    comp = connected_components(edges, src="left_id", dst="right_id")
    labeled = (
        embeddings.select(F.col(id_col).alias("id"))
        .join(comp, "id", "left")
        .select("id", F.coalesce("component", F.col("id")).alias("component"))
    )
    return labeled.groupBy("component").agg(
        F.count("*").alias("n_members")
    ).select(F.col("component").alias("survivor_id"), "n_members")


# ---- exact duplicated-substring spans ------------------------------------

def dup_span_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    min_count: int = 2,
    hash_grams: bool = True,
) -> DataFrame:
    """Exact duplicated-substring detection at token n-gram resolution
    (the practical distributed form of suffix-array substring dedup a la
    "Deduplicating Training Data Makes Language Models Better"): a token
    n-gram is *duplicated* when its total occurrence count across the
    corpus reaches ``min_count`` (repeats within one document count).
    Per document, reports how many n-gram start positions are duplicated
    and how many token positions fall under at least one duplicated span
    — the mass substring-dedup would remove.

    Output: (id_col, n_tokens, n_dup_spans, n_covered_tokens,
    dup_coverage_ratio), one row per input document (zero-counts kept).

    Scale shape: one posexplode over the n-gram array, a two-phase
    count aggregate on the gram key, a semi-ish equi-join back (only
    duplicated grams survive the HAVING, so the join's build side is
    the duplicated vocabulary, not the corpus), then an interval-union
    count via a window over the same per-doc key. Nothing is ever
    O(corpus^2) and no driver collection occurs.

    ``hash_grams=True`` (default since round 14) keys the count and the
    join on xxhash64(gram) — 8-byte shuffle keys instead of full n-gram
    strings — AND builds the gram rows ONCE: the hashed (id, pos, gh)
    rows are persisted and feed both the vocabulary count and the
    position join (the string shape re-runs tokenize+shingles under
    each branch; hashed long rows serialize compactly, the round-8/13
    cache lesson). A 64-bit collision can only merge two distinct grams
    (~n_grams^2/2^65 — astronomically unlikely, the same documented
    bound as shingle_hash_sets); ``hash_grams=False`` keeps the
    string-keyed two-pass shape when value exactness against a
    string-keyed oracle must hold by construction rather than by the
    collision bound. Callers of the hashed path release the persisted
    gram rows with ``dedup.release(out)`` after their action.
    """
    toks = df.select(F.col(id_col), tokenize(F.col(text_col)).alias("toks"))
    doc_len = toks.select(id_col, F.size("toks").alias("n_tokens"))
    grams = toks.select(
        F.col(id_col),
        F.posexplode(shingles(F.col("toks"), n)).alias("pos", "gram"),
    )
    cached = None
    if hash_grams:
        grams = grams.select(
            F.col(id_col),
            "pos",
            F.xxhash64(F.lit(0x5E0A), F.col("gram")).alias("gram"),
        ).persist()
        cached = grams
    dup_grams = (
        grams.groupBy("gram")
        .agg(F.count("*").alias("occ"))
        .filter(F.col("occ") >= min_count)
        .select("gram")
    )
    dup_pos = grams.join(dup_grams, "gram").select(id_col, "pos")
    # interval-union coverage WITHOUT materializing covered positions:
    # spans sorted by start; each [pos, pos+n-1] contributes n tokens
    # when disjoint from its predecessor, else only the non-overlapped
    # tail (pos - prev_pos, capped at n). One window + one aggregate on
    # the same key (exchange reused) replaces the former n-fold
    # position explode + countDistinct — O(spans) rows instead of
    # O(spans*n), and no distinct-hash state per token position.
    w = Window.partitionBy(id_col).orderBy("pos")
    contrib = F.least(
        F.lit(n), F.coalesce(F.col("pos") - F.lag("pos").over(w), F.lit(n))
    )
    stats = (
        dup_pos.withColumn("__c", contrib)
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_dup_spans"),
            F.sum("__c").alias("n_covered_tokens"),
        )
    )
    out = (
        doc_len.join(stats, id_col, "left")
        .select(
            id_col,
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.coalesce("n_dup_spans", F.lit(0)).cast("long").alias("n_dup_spans"),
            F.coalesce("n_covered_tokens", F.lit(0)).cast("long").alias("n_covered_tokens"),
            F.when(F.col("n_tokens") <= 0, F.lit(0.0))
            .otherwise(
                F.round(
                    F.coalesce("n_covered_tokens", F.lit(0)) / F.col("n_tokens"), 6
                )
            )
            .alias("dup_coverage_ratio"),
        )
    )
    return _track_persist(out, cached) if cached is not None else out


def _doc_paragraphs(df, id_col, text_col, chunk_tokens):
    """Shared chunking step: (id, idx, chunk) rows of non-overlapping
    ``chunk_tokens``-token paragraphs, plus the per-doc frame carrying
    the paragraph count ``nc`` (NULL text -> NULL nc, no chunks)."""
    if chunk_tokens <= 0:
        raise ValueError(f"chunk_tokens must be positive, got {chunk_tokens}")
    toks = df.select(F.col(id_col), tokenize(F.col(text_col)).alias("t"))
    nch = toks.withColumn(
        "nc", F.ceil(F.size("t") / F.lit(chunk_tokens)).cast("long")
    )
    chunk_arr = F.when(
        F.col("nc") > 0,
        F.transform(
            F.sequence(F.lit(0).cast("long"), F.col("nc") - 1),
            lambda i: F.array_join(
                F.slice(F.col("t"), (i * chunk_tokens + 1).cast("int"), chunk_tokens),
                " ",
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    chunks = nch.select(
        F.col(id_col), F.posexplode(chunk_arr).alias("idx", "chunk")
    )
    return chunks, nch


def paragraph_index(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 20,
) -> DataFrame:
    """Distinct paragraphs of a corpus — the historical index
    ``dedup_paragraphs_incremental`` anti-joins new batches against
    (one string — or, in production, one xxhash64 — per distinct
    paragraph, never the corpus)."""
    chunks, _ = _doc_paragraphs(df, id_col, text_col, chunk_tokens)
    return chunks.select("chunk").distinct()


def dedup_paragraphs_incremental(
    new_df: DataFrame,
    seen_paragraphs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 20,
) -> DataFrame:
    """Incremental ingest twin of ``dedup_paragraphs``: rewrite an
    incoming batch against a historical paragraph index — a paragraph
    survives iff it is absent from the index AND is the batch's first
    occurrence. Same output contract (id, n_chunks, kept_chunks,
    new_text); the survivors' paragraphs can append straight into the
    index. Anti-join + window shuffle only the BATCH; the index side
    is the distinct-paragraph set, not the corpus.
    """
    chunks, nch = _doc_paragraphs(new_df, id_col, text_col, chunk_tokens)
    fresh = chunks.join(
        seen_paragraphs.select("chunk"), "chunk", "left_anti"
    )
    w = Window.partitionBy("chunk").orderBy(F.col(id_col).asc(), F.col("idx").asc())
    winners = (
        fresh.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    rebuilt = winners.groupBy(id_col).agg(
        F.count("*").cast("long").alias("kept_chunks"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("idx", "chunk"))),
                lambda x: x["chunk"],
            ),
            " ",
        ).alias("new_text"),
    )
    return (
        nch.select(id_col, F.col("nc").alias("n_chunks"))
        .join(rebuilt, id_col, "left")
        .select(
            id_col,
            "n_chunks",
            F.coalesce("kept_chunks", F.lit(0)).cast("long").alias("kept_chunks"),
            F.coalesce("new_text", F.lit("")).alias("new_text"),
        )
    )


def dedup_paragraphs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 20,
    hash_chunks: bool = False,
) -> DataFrame:
    """Paragraph-level exact dedup with document REWRITE (the Dolma /
    RefinedWeb curation step; ``_doc_paragraphs`` is the shared
    chunking step, ``dedup_paragraphs_incremental`` the ingest twin):
    split every document into non-overlapping
    ``chunk_tokens``-token paragraphs, keep only the corpus-wide FIRST
    occurrence of each distinct paragraph (first = lowest (id, position)
    — deterministic across runs and partitionings), and reassemble each
    document from its surviving paragraphs in original order.

    Output: (id_col, n_chunks, kept_chunks, new_text), one row per
    input document — documents whose every paragraph appeared earlier
    elsewhere survive with ``new_text = ''``, so downstream length
    filters can drop them explicitly rather than silently.

    Scale shape: one shuffle keyed by the paragraph (or its xxhash64
    when ``hash_chunks=True`` — 8-byte keys for the 100 TB run at an
    astronomically small collision risk), a per-key row_number instead
    of a self-join, then one groupBy(id) to reassemble. The rebuild
    sorts each document's surviving (position, paragraph) pairs with
    array_sort AFTER collect_list — order is deterministic even though
    collect_list itself is not.
    """
    chunks, nch = _doc_paragraphs(df, id_col, text_col, chunk_tokens)
    key = (
        F.xxhash64(F.lit(0x9A7A), F.col("chunk")) if hash_chunks else F.col("chunk")
    )
    w = Window.partitionBy(key).orderBy(F.col(id_col).asc(), F.col("idx").asc())
    winners = (
        chunks.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    rebuilt = winners.groupBy(id_col).agg(
        F.count("*").cast("long").alias("kept_chunks"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("idx", "chunk"))),
                lambda x: x["chunk"],
            ),
            " ",
        ).alias("new_text"),
    )
    return (
        nch.select(id_col, F.col("nc").alias("n_chunks"))
        .join(rebuilt, id_col, "left")
        .select(
            id_col,
            "n_chunks",
            F.coalesce("kept_chunks", F.lit(0)).cast("long").alias("kept_chunks"),
            F.coalesce("new_text", F.lit("")).alias("new_text"),
        )
    )


def dedup_paragraphs_within_doc(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 20,
) -> DataFrame:
    """WITHIN-document repetition removal — the in-doc step Gopher-
    style curation runs before corpus-wide dedup (boilerplate headers,
    chorus lines, copy-paste loops): a paragraph survives iff it is
    the first occurrence inside its OWN document; copies in other
    documents are untouched (that cross-doc question belongs to
    ``dedup_paragraphs``).

    Same chunking and output contract as the corpus-wide op
    (id, n_chunks, kept_chunks, new_text). Scale note: the window
    partitions by (doc id, paragraph) — the doc id in the key means a
    corpus-frequent boilerplate paragraph never concentrates on one
    task, unlike the corpus-wide op where that skew is inherent to the
    semantics."""
    chunks, nch = _doc_paragraphs(df, id_col, text_col, chunk_tokens)
    w = Window.partitionBy(id_col, "chunk").orderBy(F.col("idx").asc())
    winners = (
        chunks.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    rebuilt = winners.groupBy(id_col).agg(
        F.count("*").cast("long").alias("kept_chunks"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("idx", "chunk"))),
                lambda x: x["chunk"],
            ),
            " ",
        ).alias("new_text"),
    )
    return (
        nch.select(id_col, F.col("nc").alias("n_chunks"))
        .join(rebuilt, id_col, "left")
        .select(
            id_col,
            "n_chunks",
            F.coalesce("kept_chunks", F.lit(0)).cast("long").alias("kept_chunks"),
            F.coalesce("new_text", F.lit("")).alias("new_text"),
        )
    )


def minhash_cross_contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_id_col: str | None = None,
    bench_text_col: str | None = None,
    threshold: float = 0.5,
    bands: int = 16,
    rows_per_band: int = 4,
    ngram: int = 3,
) -> DataFrame:
    """FUZZY eval-set decontamination (round 7): corpus documents that
    are NEAR-duplicates of any benchmark document — what the exact
    5-gram overlap screen (queries/training_ext.q_contamination)
    misses when the leaked copy is paraphrased, truncated or
    re-punctuated.

    Shape: MinHash signatures on BOTH sides from one shared hash
    family, LSH band join BETWEEN the sides (never a corpus self-join
    — shuffle is O((|corpus|+|bench|)·bands), and the benchmark side
    is tiny), then exact-Jaccard verification of the cross candidates
    only (precision 1.0 modulo 64-bit shingle hashing). Recall follows
    the LSH S-curve — probabilistic, which is why the registry entry
    is rows-only with the planted-contamination behavior pinned in
    pytest instead of a value-hash oracle.

    Output: one row per contaminated corpus doc — (doc_id, bench_id,
    jaccard) for its BEST benchmark match (max jaccard, ties to the
    lowest bench id), jaccard >= threshold.
    """
    bench_id = bench_id_col or id_col
    bench_text = bench_text_col or text_col
    k = bands * rows_per_band
    sets_c = shingle_hash_sets(corpus, id_col, text_col, ngram).persist()
    sets_b = shingle_hash_sets(benchmark, bench_id, bench_text, ngram).persist()
    sig_c = _signature_from_sets(sets_c, k=k)
    sig_b = _signature_from_sets(sets_b, k=k)

    def banded(sigs: DataFrame, out_id: str) -> DataFrame:
        return sigs.select(
            F.col("id").alias(out_id),
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(b).alias("band_id"),
                            F.xxhash64(
                                *[
                                    F.col("sig")[b * rows_per_band + r]
                                    for r in range(rows_per_band)
                                ]
                            ).alias("band_hash"),
                        )
                        for b in range(bands)
                    ]
                )
            ).alias("band"),
        ).select(out_id, "band.band_id", "band.band_hash")

    cands = (
        banded(sig_c, "corpus_id")
        .join(banded(sig_b, "bench_id"), ["band_id", "band_hash"])
        .select("corpus_id", "bench_id")
        .distinct()
    )
    joined = (
        cands.join(
            sets_c.select(F.col("id").alias("corpus_id"), F.col("__set").alias("set_a")),
            "corpus_id",
        )
        .join(
            sets_b.select(F.col("id").alias("bench_id"), F.col("__set").alias("set_b")),
            "bench_id",
        )
    )
    inter = F.size(F.array_intersect("set_a", "set_b")).cast("double")
    union = (F.size("set_a") + F.size("set_b")).cast("double") - inter
    jac = F.round(inter / F.greatest(union, F.lit(1.0)), 6)
    pairs = joined.select("corpus_id", "bench_id", jac.alias("jaccard")).filter(
        F.col("jaccard") >= threshold
    )
    # best benchmark match per contaminated doc: max jaccard, ties to
    # the LOWEST bench id — ONE window rank over the tiny pair set
    # (robust for any orderable id type, no numeric negation trick).
    # Round-13 optimization (guide §2.4): the former max-then-rejoin
    # pair of grouped aggregates put `pairs` on BOTH sides of a join,
    # and with nothing persisted the physical plan duplicated the
    # whole signature + band-join + verify pipeline under each side
    # (two extra corpus passes); the window consumes `pairs` once.
    w = Window.partitionBy("corpus_id").orderBy(
        F.desc("jaccard"), F.asc("bench_id")
    )
    out = (
        pairs.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(F.col("corpus_id").alias("doc_id"), "bench_id", "jaccard")
    )
    return _track_persist(out, sets_c, sets_b)
