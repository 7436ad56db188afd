"""Training-mix construction: deterministic weighted source sampling.

A training corpus is assembled as a MIX — each source (crawl, books,
code, per-language slices ...) contributes at its own sampling rate.
The operator set here makes that mix REPRODUCIBLE at 100 TB:

- ``hash_rate_sample``: keep a deterministic ``rate`` fraction of rows
  by comparing a fixed-width prefix of ``md5(salt || key)`` against a
  hex threshold. No ``rand()`` — the sample is identical across runs,
  partitions, task retries, AND engines (md5 hex agrees between Spark
  and DuckDB, so mixes stay oracle-checkable). Distinct salts give
  independent samples from the same source, which is how you carve
  train/eval splits that never collide.
- ``mix_corpus``: union the per-source samples with a ``mix_source``
  tag. Map-only per source (filter fused into each scan — no shuffle
  until whatever aggregation follows), so the mix step adds zero
  exchanges to the pipeline.

Scale notes: each source's filter is a pure projection predicate on the
scan (predicate pushdown does not apply to md5, but the filter is
evaluated map-side with no data movement); rates compose with
downstream dedup/quality gates; for token-budget mixes, compute rates
from one cheap per-source count/SUM(n_tokens) aggregate first.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from providenciasbigdata_spark.session import local_frame

_HEX_DIGITS = 15  # 60 bits of the md5 — plenty of resolution, < 2^63


def _bucket(key: Column, salt: str) -> Column:
    """Uniform [0, 16^15) bucket as a fixed-width lowercase hex STRING
    (lexicographic compare == numeric compare at fixed width) — the
    representation both engines agree on bit-for-bit."""
    return F.substring(
        F.md5(F.concat(F.lit(salt), key.cast("string"))), 1, _HEX_DIGITS
    )


def rate_threshold_hex(rate: float) -> str:
    """The sampling threshold as a 15-hex-digit string; rows whose
    bucket sorts strictly below it are kept.

    ``rate >= 1.0`` has NO fixed-width threshold (16^15 needs 16 hex
    digits, and a 16-digit threshold breaks the lexicographic==numeric
    invariant: 'f'*15 < '1000000000000000' is False), so it raises —
    keep-everything is "skip the filter", which ``hash_rate_sample``
    already short-circuits."""
    if not 0.0 <= rate <= 1.0:
        raise ValueError(f"rate must be in [0, 1], got {rate}")
    if rate >= 1.0:
        raise ValueError(
            "rate >= 1.0 keeps every row and has no 15-hex-digit "
            "threshold — skip the bucket filter entirely instead"
        )
    return format(int(rate * (16 ** _HEX_DIGITS)), f"0{_HEX_DIGITS}x")


def hash_rate_sample(
    df: DataFrame, rate: float, key_col: str = "doc_id", salt: str = ""
) -> DataFrame:
    """Deterministic ``rate``-fraction sample keyed on ``key_col``."""
    if not 0.0 <= rate <= 1.0:
        raise ValueError(f"rate must be in [0, 1], got {rate}")
    if rate >= 1.0:
        return df
    return df.filter(
        _bucket(F.col(key_col), salt) < F.lit(rate_threshold_hex(rate))
    )


def stratified_sample(
    df: DataFrame,
    rates: dict[str, float],
    strata_col: str = "lang",
    key_col: str = "doc_id",
    default_rate: float = 0.0,
    salt: str = "",
) -> DataFrame:
    """Per-stratum deterministic hash sampling (round 9): each stratum
    keeps its own ``rate`` fraction, selected by the SAME fixed-width
    md5-hex bucket device as ``hash_rate_sample`` — bit-reproducible
    across engines and runs, no RNG state, map-only (the per-stratum
    threshold is a strata-count-sized CASE fused into the scan; at
    100 TB this is one filter pushed at the source, no shuffle).

    ``rate >= 1.0`` (keep everything) compiles to the threshold
    ``'g'*15`` — every hex bucket sorts strictly below ``'g'``, so the
    lexicographic==numeric invariant is preserved without a 16-digit
    special case. Strata absent from ``rates`` use ``default_rate``.
    The canonical knob of a training-mix builder: up-sample scarce
    high-quality strata, down-sample the crawl."""

    def thr_lit(rate: float) -> str:
        if not 0.0 <= rate:
            raise ValueError(f"rate must be >= 0, got {rate}")
        return "g" * _HEX_DIGITS if rate >= 1.0 else rate_threshold_hex(rate)

    thr = None
    for stratum, rate in sorted(rates.items()):
        cond = F.col(strata_col) == F.lit(stratum)
        t = F.lit(thr_lit(rate))
        thr = F.when(cond, t) if thr is None else thr.when(cond, t)
    default_lit = F.lit(thr_lit(default_rate))
    thr = default_lit if thr is None else thr.otherwise(default_lit)
    return df.filter(_bucket(F.col(key_col), salt) < thr)


def budget_rates(
    sources: list[tuple[str, DataFrame, float]],
    budget: int,
    size_col: str = "n_chars",
) -> list[tuple[str, DataFrame, float]]:
    """Turn target WEIGHTS into sampling RATES for a total size budget:
    source i should contribute ``budget * w_i / sum(w)`` units of
    ``size_col``, so its rate is that target over its actual total —
    capped at 1.0 (a source can't contribute more than it has; the
    shortfall is NOT redistributed, matching how epoch-capped mixes
    behave). One cheap SUM aggregate per source decides; pass the
    result straight to ``mix_corpus``.
    """
    if budget <= 0:
        raise ValueError(f"budget must be positive, got {budget}")
    total_w = sum(w for _, _, w in sources)
    if total_w <= 0:
        raise ValueError("weights must sum to a positive value")
    out = []
    for name, df, w in sources:
        have = df.agg(F.coalesce(F.sum(size_col), F.lit(0)).alias("s")).first()["s"]
        target = budget * (w / total_w)
        rate = 1.0 if not have else min(1.0, target / float(have))
        out.append((name, df, rate))
    return out


def epoch_plan(
    df: DataFrame,
    group_col: str,
    tokens_col: str,
    weights: dict[str, int],
    budget_tokens: int,
    max_epochs: float = 4.0,
) -> DataFrame:
    """Token-budget EPOCH planner — the question a training-mix owner
    actually asks: "at this total budget and these mix shares, how many
    times does each source repeat?" (repeating data beyond ~4 epochs
    stops helping — Muennighoff et al. 2023 — so the plan flags the
    sources whose share demands more repetition than the cap allows;
    ``budget_rates`` above answers the downsampling side, this answers
    the upsampling/repeat side).

    Cross-engine determinism: ``weights`` are INTEGER shares (enforced)
    so share = w/Σw is ONE IEEE division of exact ints; target =
    budget·share and epochs = target/tokens follow in a fixed order —
    every output double is correctly rounded from exact inputs and
    value-hashes unrounded. One aggregate over one scan; the plan
    itself is group-count-sized.

    Output per group: tokens (bigint), target_tokens (double),
    epochs (double, null for token-less groups), capped_epochs,
    needs_cap (epochs > max_epochs).
    """
    if budget_tokens <= 0:
        raise ValueError(f"budget_tokens must be positive, got {budget_tokens}")
    if not weights or any(not isinstance(w, int) or w < 0 for w in weights.values()):
        raise ValueError("weights must be non-negative INTEGER shares")
    wsum = sum(weights.values())
    if wsum <= 0:
        raise ValueError("weights must sum to a positive value")
    w = None
    for name, share in weights.items():
        w = F.when(F.col(group_col) == name, F.lit(share)) if w is None else w.when(
            F.col(group_col) == name, F.lit(share)
        )
    w = w.otherwise(F.lit(0))
    per = df.groupBy(group_col).agg(
        F.sum(F.col(tokens_col).cast("long")).cast("long").alias("tokens")
    )
    share = w.cast("double") / F.lit(float(wsum))
    target = F.lit(float(budget_tokens)) * share
    epochs = F.when(
        F.col("tokens") > 0, target / F.col("tokens").cast("double")
    )
    # least()/greatest() SKIP nulls in Spark (and DuckDB), so a
    # token-less group's null epochs must be guarded explicitly or the
    # cap literal would leak through as its capped value
    has = F.col("tokens") > 0
    return per.select(
        group_col,
        "tokens",
        target.alias("target_tokens"),
        epochs.alias("epochs"),
        F.when(has, F.least(epochs, F.lit(float(max_epochs)))).alias("capped_epochs"),
        F.when(has, epochs > F.lit(float(max_epochs))).alias("needs_cap"),
    )


def temperature_rates(
    sources: list[tuple[str, DataFrame]],
    budget: int,
    temperature: float = 2.0,
    size_col: str = "n_chars",
) -> list[tuple[str, DataFrame, float]]:
    """Temperature-flattened mixing rates — the multilingual-LLM
    standard (XLM-R / mT5 exponential smoothing): sampling share
    p_i ∝ size_i^(1/T), so low-resource sources are up-weighted
    relative to natural (T=1) sampling and T -> inf approaches a
    uniform per-source budget. One SUM per source measures sizes; the
    flattening runs driver-side in a FIXED left-to-right evaluation
    order (((w1 + w2) + w3)...), every step an IEEE-correctly-rounded
    op (sqrt for T=2, the common case), so a SQL oracle can replay the
    rate computation bit-identically. Returns ``(name, df, rate)``
    triples for ``mix_corpus``; an empty source gets rate 1.0 (nothing
    to sample), and rates cap at 1.0 as in ``budget_rates``."""
    import math

    if budget <= 0:
        raise ValueError(f"budget must be positive, got {budget}")
    if temperature <= 0:
        raise ValueError(f"temperature must be positive, got {temperature}")
    sizes = [
        float(
            df.agg(F.coalesce(F.sum(size_col), F.lit(0)).alias("s")).first()["s"]
        )
        for _, df in sources
    ]
    inv_t = 1.0 / temperature
    ws = [
        math.sqrt(s) if inv_t == 0.5 else math.pow(s, inv_t) for s in sizes
    ]
    tot = 0.0
    for w in ws:
        tot = tot + w
    out = []
    for (name, df), s, w in zip(sources, sizes, ws):
        rate = 1.0 if s == 0.0 else min(1.0, budget * (w / tot) / s)
        out.append((name, df, rate))
    return out


def mix_corpus(
    sources: list[tuple[str, DataFrame, float]], key_col: str = "doc_id"
) -> DataFrame:
    """Weighted mix of tagged sources: for each (name, df, rate), keep
    the deterministic rate-sample (salted by the source name, so the
    same key draws independently per source) and tag it ``mix_source``.
    Columns are unioned by name; every input must share a schema."""
    if not sources:
        raise ValueError("mix_corpus needs at least one source")
    parts = [
        hash_rate_sample(df, rate, key_col, salt=name).withColumn(
            "mix_source", F.lit(name)
        )
        for name, df, rate in sources
    ]
    return reduce(lambda a, b: a.unionByName(b), parts)


def weighted_sample_topk(
    df: DataFrame,
    weight_col: str,
    k: int,
    key_col: str = "doc_id",
    salt: str = "",
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement (Efraimidis-
    Spirakis A-Res in its exponential-clocks form): each row draws a
    uniform u from the same fixed-width md5 bucket ``hash_rate_sample``
    uses (no rand() — identical across runs, partitions, retries, and
    engines), races an exponential clock ``-ln(u) / w``, and the k
    smallest clocks win. Inclusion probability is proportional-to-
    weight without replacement; a row's clock depends only on
    (salt, key, weight), so the sample is reproducible and auditable.

    Rows with weight <= 0 or NULL never win (excluded up front).
    The plan is a TakeOrdered top-k — per-partition heaps, no global
    sort, no shuffle of the losers; at 100 TB this is a map-side pass
    plus a k-row reduce.
    """
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    bucket = _bucket(F.col(key_col), salt)
    u = (F.conv(bucket, 16, 10).cast("long") + F.lit(0.5)) / F.lit(float(16 ** _HEX_DIGITS))
    clock = -F.log(u) / F.col(weight_col)
    return (
        df.filter(F.col(weight_col).isNotNull() & (F.col(weight_col) > 0))
        .withColumn("__clock", clock)
        .orderBy(F.col("__clock").asc(), F.col(key_col).asc())
        .limit(k)
        .drop("__clock")
    )


def train_val_test_split(
    df: DataFrame,
    key_col: str = "doc_id",
    train: float = 0.8,
    val: float = 0.1,
    salt: str = "split",
) -> DataFrame:
    """Deterministic train/val/test assignment — the split every
    training pipeline needs and ``rand()`` cannot give reproducibly:
    the md5 bucket of (salt || key) lands each row in exactly one
    split by fixed hex thresholds, identical across runs, partitions,
    retries, and engines. Distinct salts produce independent splits
    (re-splitting an updated corpus keeps old rows' assignments —
    the property that prevents eval contamination on refresh).

    Appends a ``split`` column ('train' | 'val' | 'test'); map-only,
    zero shuffles.
    """
    if not (0.0 < train < 1.0 and 0.0 < val < 1.0 and train + val < 1.0):
        raise ValueError(
            f"need 0 < train, val and train + val < 1, got {train}, {val}"
        )
    b = _bucket(F.col(key_col), salt)
    t_train = rate_threshold_hex(train)
    t_val = rate_threshold_hex(train + val)
    return df.withColumn(
        "split",
        F.when(b < F.lit(t_train), "train")
        .when(b < F.lit(t_val), "val")
        .otherwise("test"),
    )


# dyadic quantization grid for DSIR bucket deltas: makes the weighted
# log-sums exact (order-independent) in IEEE double — see the comment
# inside dsir_log_weights
_DSIR_QUANT = float(1 << 20)


def dsir_log_weights(
    docs: DataFrame,
    target: DataFrame,
    n_buckets: int = 8192,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """DSIR data-selection importance weights (Xie et al. 2023,
    "Data Selection for Language Models via Importance Resampling"):
    score every candidate document by how much more likely its hashed
    n-gram bag is under a TARGET distribution than under the source —
    ``log w(x) = sum_b c_b(x) * (ln p_target[b] - ln p_source[b])``
    with add-one smoothing, over unigram+bigram features hashed into
    ``n_buckets`` buckets (the md5 bucket both engines/references can
    replay). Feed the weights to ``weighted_sample_topk`` (importance
    RESAMPLING) to build a target-like corpus from raw data.

    Plan shape: two tiny bucket-model aggregates (n_buckets rows each,
    from one explode per corpus), broadcast-joined onto the per-doc
    bucket counts, one sum per doc — the corpus is never shuffled
    whole, and the model tables are O(n_buckets) regardless of scale.
    Log-space deltas are quantized to a dyadic grid (see below), which
    makes the per-doc weighted sum EXACT — bit-deterministic across
    runs, partitionings, and engines — so the op is both numpy-pinned
    and DuckDB-oracle-checked (round 11; previously rows-only for the
    F30 1-ulp ln() divergence the quantization now absorbs).

    Output: (id_col, n_feats long, log_weight double).
    """
    import math

    if n_buckets <= 0:
        raise ValueError("n_buckets must be positive")

    from providenciasbigdata_spark.functions.text import tokenize

    spark = docs.sparkSession
    width = spark.sparkContext.defaultParallelism

    def feats(df: DataFrame) -> DataFrame:
        # materialize the token array into a column FIRST: a lambda
        # that references the raw tokenize(...) expression re-evaluates
        # the whole regex tokenization per element (no common-
        # subexpression elimination inside higher-order functions —
        # measured 4.5x on the bigram build). Bigrams are a linear
        # zip_with of the array against its shift, never element_at
        # indexing. The repartition spreads the explode across the
        # session width — corpus files at real scale are many-way
        # already; fixture single-file inputs otherwise run the whole
        # feature pass on one task.
        toks = df.repartition(width, F.col(id_col)).select(
            F.col(id_col), tokenize(F.col(text_col)).alias("__t")
        )
        t = F.col("__t")
        n1 = F.greatest(F.size(t) - 1, F.lit(0))
        bi = F.zip_with(
            F.slice(t, 1, n1),
            F.slice(t, 2, n1),
            lambda a, b: F.concat_ws(" ", a, b),
        )
        return toks.select(
            F.col(id_col), F.explode(F.concat(t, bi)).alias("gram")
        ).select(
            F.col(id_col),
            F.pmod(
                F.conv(F.substring(F.md5("gram"), 1, 15), 16, 10).cast("long"),
                F.lit(n_buckets),
            ).alias("bucket"),
        )

    # ONE feature pass over the candidate corpus, materialized
    # (localCheckpoint truncates the explode lineage so nothing below
    # re-tokenizes); both the source model AND the per-doc scoring read
    # this table. The target model joins the same table when the
    # target is a subset of ``docs`` (the common "target slice" case,
    # detected by id overlap being total) — otherwise it pays its own
    # (usually much smaller) pass.
    doc_counts = (
        feats(docs)
        .groupBy(id_col, "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=True)
    )

    def bucket_totals(df: DataFrame) -> dict:
        return {r["bucket"]: r["s"] for r in df.groupBy("bucket").agg(
            F.sum("c").alias("s")).collect()}

    tgt_ids = target.select(F.col(id_col)).distinct().persist()
    # Round-13 optimization (guide §1.2 — fewer driver actions): the
    # subset probe is ONE limit-1 anti-join job (the former
    # n_tgt-count + overlap-count pair scanned the target and the
    # checkpointed ids twice to compare two numbers), and in the
    # common subset case the source AND target bucket models come
    # from ONE combined collect over the checkpointed doc_counts
    # (marker left join + conditional sum) instead of two separate
    # grouped collects. 5 driver jobs -> 3; identical model dicts.
    subset = (
        tgt_ids.join(
            doc_counts.select(id_col).distinct(), id_col, "left_anti"
        )
        .limit(1)
        .isEmpty()
    )
    if subset:
        rows = (
            doc_counts.join(
                tgt_ids.withColumn("__t", F.lit(1)), id_col, "left"
            )
            .groupBy("bucket")
            .agg(
                F.sum("c").alias("s"),
                F.sum(F.when(F.col("__t") == 1, F.col("c"))).alias("st"),
            )
            .collect()
        )
        src_counts = {r["bucket"]: r["s"] for r in rows}
        tgt_counts = {
            r["bucket"]: r["st"] for r in rows if r["st"] is not None
        }
    else:
        src_counts = bucket_totals(doc_counts)
        tgt_counts = {
            r["bucket"]: r["c"]
            for r in feats(target).groupBy("bucket").agg(
                F.count(F.lit(1)).alias("c")
            ).collect()
        }
    tgt_ids.unpersist()
    src_denom = float(sum(src_counts.values()) + n_buckets)
    tgt_denom = float(sum(tgt_counts.values()) + n_buckets)
    # delta_b = ln p_target[b] - ln p_source[b], add-one smoothed;
    # the model tables are <= n_buckets rows — driver-sized by
    # construction — so the log-probs compute here and ship back as a
    # literal frame.
    #
    # Each delta is QUANTIZED to the dyadic grid 2^-20 (round 11):
    # c_b * delta_q and every partial sum are then EXACT in IEEE double
    # (|m| < 2^25 grid units, counts < 2^14, <= 2^12 terms -> every
    # intermediate < 2^51 grid units, below the 2^53 mantissa), so
    # log_weight is bit-identical regardless of partition/aggregation
    # order — run-to-run deterministic AND reproducible by any engine
    # whose ln() agrees to ~1 ulp (the F30 finding: that 1 ulp can no
    # longer flip a sum, only move a delta across a grid midpoint —
    # a ~2^-32 coincidence that is deterministic per corpus). The
    # quantization bias per delta is <= 2^-21, orders below the
    # hashed-ngram model's own estimator noise.
    delta_rows = [
        (
            b,
            math.floor(
                (
                    math.log((tgt_counts.get(b, 0) + 1) / tgt_denom)
                    - math.log((src_counts.get(b, 0) + 1) / src_denom)
                )
                * _DSIR_QUANT
                + 0.5
            )
            / _DSIR_QUANT,
        )
        for b in range(n_buckets)
    ]
    delta = local_frame(spark, delta_rows, "bucket long, delta double")
    scored = doc_counts.join(F.broadcast(delta), "bucket").groupBy(id_col).agg(
        F.sum("c").cast("long").alias("n_feats"),
        F.sum(F.col("c") * F.col("delta")).alias("log_weight"),
    )
    return scored


def shuffle_to_shards(
    df: DataFrame,
    id_col: str,
    n_shards: int,
    seed: str = "",
) -> DataFrame:
    """Deterministic global TRAINING-ORDER shuffle (round 7): every row
    gets a ``shard`` in [0, n_shards) and a contiguous 0-based ``pos``
    within its shard — the reader contract of sharded training data
    (each worker streams one shard in pos order; the concatenation is
    a seeded uniform permutation of the corpus).

    Determinism the mix.py way: the shuffle key is ``md5(seed || id)``
    — refresh-stable, engine-agnostic (the oracle reproduces shard and
    pos bit-for-bit in SQL), and re-seedable per epoch (a new ``seed``
    is a fresh permutation, no state carried). Shard = the first 12
    hex chars as an integer mod ``n_shards``; pos = rank of the full
    key within the shard (id tiebreak — md5 collisions on distinct
    ids are not an operational concern, the tiebreak makes even that
    deterministic).

    Scale shape: one shuffle, ``row_number`` over
    ``partitionBy(shard)`` — the shard IS the parallel unit, so the
    window never funnels the corpus to one task; writing
    ``partitionBy(shard) sortWithinPartitions(pos)`` afterwards lays
    files out exactly as a training reader wants them.
    """
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    from pyspark.sql import Window

    key = F.md5(F.concat(F.lit(seed), F.col(id_col).cast("string")))
    shard = (
        F.conv(F.substring(key, 1, 12), 16, 10).cast("long") % F.lit(n_shards)
    ).cast("int")
    w = Window.partitionBy("shard").orderBy("__key", id_col)
    return (
        df.withColumn("__key", key)
        .withColumn("shard", shard)
        .withColumn("pos", (F.row_number().over(w) - F.lit(1)).cast("long"))
        .drop("__key")
    )
