"""Training-data governance queries (SURVEY.md §2.5 C-X5 extensions):
within-doc repetition, PII scanning, benchmark decontamination, and
sequence packing — the curation steps a 100 TB pretraining pipeline
runs after dedup and before tokenization.

All four are oracle-checked. Regexes are written to the Java/RE2
common subset; n-gram construction mirrors functions.text.shingles on
the DuckDB side via list_transform over ranges.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from providenciasbigdata_spark.functions.text import (
    PII_PATTERNS,
    dup_gram_stats,
    pii_counts,
    shingles,
    tokenize,
)
from providenciasbigdata_spark.io import load_table
from providenciasbigdata_spark.operators.pack import packed_positions
from providenciasbigdata_spark.session import local_frame

_TOKENS = (
    "list_filter(string_split_regex(strip_accents(lower(text)), '\\W+'), x -> x <> '')"
)


def _grams_sql(n: int) -> str:
    """DuckDB twin of shingles(): n-gram list from the token list t."""
    parts = ", ".join(f"t[i+{j}]" for j in range(1, n + 1))
    return (
        f"list_transform(range(greatest(len(t)-{n - 1}, 0)), "
        f"i -> concat_ws(' ', {parts}))"
    )


# ---- within-document repetition ----------------------------------------

def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals: duplicate 3-gram fraction
    (array-local, fused into the scan) plus the top-token share (two-
    phase partial aggregate — map-side combine keeps the shuffle tiny).
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", tokenize(F.col("text")).alias("toks"))
    g = dup_gram_stats(F.col("toks"), n=3)
    gram_stats = toks.select(
        "doc_id",
        g["n_grams"].alias("n_grams"),
        g["n_distinct_grams"].alias("n_distinct_grams"),
        g["dup_gram_ratio"].alias("dup_gram_ratio"),
    )
    tok_counts = (
        toks.select("doc_id", F.explode_outer("toks").alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count("token").alias("cnt"))
        .groupBy("doc_id")
        .agg(
            F.coalesce(F.max("cnt"), F.lit(0)).alias("max_cnt"),
            F.coalesce(F.sum("cnt"), F.lit(0)).alias("n_tokens"),
        )
        .select(
            "doc_id",
            F.when(F.col("n_tokens") <= 0, F.lit(0.0))
            .otherwise(F.round(F.col("max_cnt") / F.col("n_tokens"), 6))
            .alias("top_token_ratio"),
        )
    )
    return gram_stats.join(tok_counts, "doc_id")


_REPETITION_SQL = f"""
WITH toks AS (
  SELECT doc_id, {_TOKENS} AS t FROM documents
), grams AS (
  SELECT doc_id, {_grams_sql(3)} AS gs FROM toks
), gram_stats AS (
  SELECT doc_id,
         CAST(len(gs) AS BIGINT) AS n_grams,
         CAST(len(list_distinct(gs)) AS BIGINT) AS n_distinct_grams,
         CASE WHEN len(gs) <= 0 THEN 0.0
              ELSE ROUND(1 - CAST(len(list_distinct(gs)) AS DOUBLE)
                           / CAST(len(gs) AS DOUBLE), 6) END AS dup_gram_ratio
  FROM grams
), tok_counts AS (
  SELECT doc_id, token, COUNT(*) AS cnt
  FROM (SELECT doc_id, unnest(t) AS token FROM toks)
  GROUP BY doc_id, token
), top_tok AS (
  SELECT doc_id,
         ROUND(CAST(MAX(cnt) AS DOUBLE) / CAST(SUM(cnt) AS DOUBLE), 6)
             AS top_token_ratio
  FROM tok_counts GROUP BY doc_id
)
SELECT g.doc_id, g.n_grams, g.n_distinct_grams, g.dup_gram_ratio,
       COALESCE(t.top_token_ratio, 0.0) AS top_token_ratio
FROM gram_stats g LEFT JOIN top_tok t USING (doc_id)
"""


# ---- PII scan -----------------------------------------------------------

def q_text_pii_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document PII inventory: email / url / phone match counts and
    a has_pii flag. Pure regexp_count expressions — one scan, map-only,
    fully pushed into whole-stage codegen."""
    docs = load_table(spark, sf_dir, "documents")
    counts = pii_counts(F.col("text"))
    total = sum(counts.values(), F.lit(0))
    return docs.select(
        "doc_id",
        counts["email"].alias("n_emails"),
        counts["url"].alias("n_urls"),
        counts["phone"].alias("n_phones"),
        (total > 0).cast("int").cast("long").alias("has_pii"),
    )


_PII_SQL = f"""
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '{PII_PATTERNS["email"]}')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(text, '{PII_PATTERNS["url"]}')) AS BIGINT) AS n_urls,
       CAST(len(regexp_extract_all(text, '{PII_PATTERNS["phone"]}')) AS BIGINT) AS n_phones,
       CAST((len(regexp_extract_all(text, '{PII_PATTERNS["email"]}'))
           + len(regexp_extract_all(text, '{PII_PATTERNS["url"]}'))
           + len(regexp_extract_all(text, '{PII_PATTERNS["phone"]}')) > 0) AS BIGINT)
           AS has_pii
FROM documents
"""


def q_text_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII REDACTION pass (round 9): every email/url/phone match is
    replaced by its typed tag in pattern order (email/url before the
    looser phone pattern so digit runs can't re-match; tags are
    redaction-proof, so the pass is idempotent). One map-only
    regexp_replace chain fused into the scan — the literal shape of a
    pre-training redaction sweep at 100 TB. Emits the redacted text
    (value-hashed against the oracle byte-for-byte), its length, and
    the tag count actually inserted."""
    from providenciasbigdata_spark.functions.text import redact_pii

    docs = load_table(spark, sf_dir, "documents")
    red = redact_pii(F.col("text"))
    return docs.select(
        "doc_id",
        red.alias("redacted"),
        F.length(red).cast("bigint").alias("n_chars_redacted"),
        F.regexp_count(
            red, F.lit(r"<(EMAIL|URL|PHONE)>")
        ).cast("bigint").alias("n_tags"),
    )


_PII_REDACT_SQL = f"""
WITH red AS (
  SELECT doc_id,
         regexp_replace(
           regexp_replace(
             regexp_replace(text, '{PII_PATTERNS["email"]}', '<EMAIL>', 'g'),
             '{PII_PATTERNS["url"]}', '<URL>', 'g'),
           '{PII_PATTERNS["phone"]}', '<PHONE>', 'g') AS redacted
  FROM documents
)
SELECT doc_id, redacted,
       CAST(length(redacted) AS BIGINT) AS n_chars_redacted,
       CAST(len(regexp_extract_all(redacted, '<(EMAIL|URL|PHONE)>')) AS BIGINT)
         AS n_tags
FROM red
"""


def q_mix_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mix stratified sampling (round 9): per-LANGUAGE keep
    rates over the document corpus — up-sample scarce languages, keep
    all of one, thin the rest — via operators.mix.stratified_sample
    (fixed-width md5 bucket vs per-stratum hex threshold; rate>=1.0
    compiles to the 'g'*15 sentinel every hex bucket sorts below).
    Row-level output, value-hashed: the sample MEMBERSHIP itself is
    pinned bit-for-bit against the oracle, not just counts."""
    from providenciasbigdata_spark.operators.mix import stratified_sample

    docs = load_table(spark, sf_dir, "documents")
    out = stratified_sample(
        docs.select("doc_id", "lang"),
        rates={"zh": 1.0, "de": 0.5, "en": 0.25},
        strata_col="lang",
        key_col="doc_id",
        default_rate=0.1,
        salt="mix9",
    )
    return out.select("doc_id", "lang")


def _mix_stratified_sql() -> str:
    from providenciasbigdata_spark.operators.mix import rate_threshold_hex

    t = {r: rate_threshold_hex(r) for r in (0.5, 0.25, 0.1)}
    return f"""
SELECT doc_id, lang
FROM documents
WHERE substring(md5('mix9' || CAST(doc_id AS VARCHAR)), 1, 15) <
      CASE lang WHEN 'zh' THEN 'ggggggggggggggg'
                WHEN 'de' THEN '{t[0.5]}'
                WHEN 'en' THEN '{t[0.25]}'
                ELSE '{t[0.1]}' END
"""


_MIX_STRATIFIED_SQL = _mix_stratified_sql()


# ---- benchmark decontamination -----------------------------------------

def q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set decontamination: fraction of each training doc's
    distinct 5-grams that appear in the benchmark set (docs with
    doc_id % 97 == 0 stand in for the eval suite). The benchmark
    gram set is tiny relative to the corpus, so it is broadcast —
    at 100 TB the corpus side stays a map-only scan + broadcast hash
    join + partial aggregate: no all-to-all shuffle of the corpus."""
    docs = load_table(spark, sf_dir, "documents")
    gram_arr = F.array_distinct(shingles(tokenize(F.col("text")), 5))
    # two INDEPENDENT pre-filtered scans: the bench side explodes only
    # the ~1% eval docs and the corpus side does zero bench work — a
    # shared unfiltered gram lineage made the corpus-scale explode run
    # twice (once per side) and rebuilt the broadcast with it. Grams
    # are hashed to LONG (xxhash64) before the distinct+broadcast:
    # ~6-10x smaller than 5-gram strings, which is what keeps the
    # broadcast trivially memory-safe as the eval suite grows (a
    # 64-bit collision would need ~2^32 distinct bench grams to be
    # likely; contamination screening tolerates that long before then).
    bench = (
        docs.filter(F.col("doc_id") % 97 == 0)
        .select(F.explode(gram_arr).alias("gram"))
        .select(F.xxhash64("gram").alias("g"))
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    corpus = (
        docs.filter(F.col("doc_id") % 97 != 0)
        .select("doc_id", F.explode_outer(gram_arr).alias("gram"))
        # xxhash64(NULL) is the seed constant, not NULL — guard so the
        # no-gram sentinel can never collide into a bench hash
        .withColumn("g", F.when(F.col("gram").isNotNull(), F.xxhash64("gram")))
    )
    return (
        corpus.join(F.broadcast(bench), "g", "left")
        .groupBy("doc_id")
        .agg(
            F.count("gram").alias("n_grams"),
            F.coalesce(F.sum("_hit"), F.lit(0)).alias("n_contaminated"),
        )
        .select(
            "doc_id",
            F.col("n_grams").cast("long").alias("n_grams"),
            F.col("n_contaminated").cast("long").alias("n_contaminated"),
            F.round(
                F.col("n_contaminated") / F.greatest(F.col("n_grams"), F.lit(1)), 6
            ).alias("contamination_rate"),
        )
    )


_CONTAMINATION_SQL = f"""
WITH toks AS (
  SELECT doc_id, {_TOKENS} AS t FROM documents
), grams AS (
  SELECT doc_id, list_distinct({_grams_sql(5)}) AS gs FROM toks
), bench AS (
  SELECT DISTINCT gram
  FROM (SELECT unnest(gs) AS gram FROM grams WHERE doc_id % 97 = 0)
), exploded AS (
  SELECT doc_id, unnest(gs) AS gram FROM grams WHERE doc_id % 97 <> 0
), hits AS (
  SELECT e.doc_id, COUNT(*) AS n, COUNT(b.gram) AS h
  FROM exploded e LEFT JOIN bench b USING (gram)
  GROUP BY e.doc_id
)
SELECT g.doc_id,
       CAST(COALESCE(h.n, 0) AS BIGINT) AS n_grams,
       CAST(COALESCE(h.h, 0) AS BIGINT) AS n_contaminated,
       ROUND(CAST(COALESCE(h.h, 0) AS DOUBLE)
             / GREATEST(COALESCE(h.n, 0), 1), 6) AS contamination_rate
FROM grams g LEFT JOIN hits h USING (doc_id)
WHERE g.doc_id % 97 <> 0
"""


# ---- sequence packing ---------------------------------------------------

def q_pack_first_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-fit-decreasing packing of whole documents into 2048-char
    bins (no document straddles a context boundary — the no-split
    sibling of pack_sequences), sharded FFD via one applyInPandas
    kernel per shard. Oracle-checked since round 11: FFD is
    deterministic (md5 shard, size-DESC/id-ASC scan order), and a
    DuckDB recursive CTE replays the greedy exactly — one recursion
    step per in-shard rank, all shards marching in parallel, the open
    bins' fill levels carried as a per-shard list column."""
    from providenciasbigdata_spark.operators.pack import pack_first_fit

    docs = load_table(spark, sf_dir, "documents")
    # pack_first_fit RAISES on unpackable items (NULL / non-positive /
    # > capacity) — filter eligibility up front, mirrored in the
    # oracle's base CTE, so the query is fixture-robust (round 12,
    # ADVICE: current fixtures happen to have no doc over 2048 chars,
    # but the gate must not depend on that)
    eligible = docs.filter(
        F.col("n_chars").isNotNull()
        & (F.col("n_chars") > 0)
        & (F.col("n_chars") <= 2048)
    )
    return pack_first_fit(eligible, "n_chars", capacity=2048, n_shards=8)


# first bin index whose remaining capacity fits the incoming item —
# DuckDB's list_filter keeps order, so [1] is first-fit
_FFD_FIT = "list_filter(range(1, len(s.fills)+1), i -> s.fills[i] + r.size <= 2048)[1]"

_PACK_FFD_SQL = f"""
WITH RECURSIVE base AS (
  SELECT doc_id AS id, CAST(n_chars AS BIGINT) AS size,
         CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 8
              AS INTEGER) AS shard
  FROM documents
  WHERE n_chars IS NOT NULL AND n_chars > 0 AND n_chars <= 2048
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY shard ORDER BY size DESC, id) AS rk
  FROM base
),
steps(shard, rk, id, size, bin_idx, bin_offset, fills) AS (
  SELECT shard, rk, id, size, 0, CAST(0 AS BIGINT), [size] FROM ranked WHERE rk = 1
  UNION ALL
  SELECT r.shard, r.rk, r.id, r.size,
         CASE WHEN {_FFD_FIT} IS NULL THEN len(s.fills) ELSE {_FFD_FIT} - 1 END,
         CASE WHEN {_FFD_FIT} IS NULL THEN CAST(0 AS BIGINT)
              ELSE s.fills[{_FFD_FIT}] END,
         CASE WHEN {_FFD_FIT} IS NULL THEN list_append(s.fills, r.size)
              ELSE list_transform(range(1, len(s.fills)+1),
                     i -> CASE WHEN i = {_FFD_FIT} THEN s.fills[i] + r.size
                               ELSE s.fills[i] END)
         END
  FROM steps s JOIN ranked r ON r.shard = s.shard AND r.rk = s.rk + 1
)
SELECT id AS doc_id, size AS n_chars, shard,
       CAST(shard AS BIGINT) * 4294967296 + bin_idx AS bin_id,
       bin_offset
FROM steps
"""


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-slice packing of the token stream (doc order) into
    512-token context windows: each doc's start bin + offset, via the
    distributed two-phase prefix sum in operators.pack (no single-
    partition window anywhere)."""
    docs = load_table(spark, sf_dir, "documents")
    sized = docs.select(
        "doc_id", F.size(tokenize(F.col("text"))).cast("long").alias("n_tokens")
    )
    return packed_positions(sized, "doc_id", "n_tokens", capacity=512).select(
        "doc_id", "n_tokens", "cum_before", "bin_id", "bin_offset"
    )


_PACK_SQL = f"""
WITH sized AS (
  SELECT doc_id, CAST(len({_TOKENS}) AS BIGINT) AS n_tokens FROM documents
)
SELECT doc_id, n_tokens,
       CAST(COALESCE(SUM(n_tokens) OVER (
           ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS BIGINT) AS cum_before,
       CAST(FLOOR(COALESCE(SUM(n_tokens) OVER (
           ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           / 512) AS BIGINT) AS bin_id,
       CAST(COALESCE(SUM(n_tokens) OVER (
           ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           % 512 AS BIGINT) AS bin_offset
FROM sized
"""


# ---- heavy hitters ------------------------------------------------------

def q_heavy_hitter_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus heavy-hitter tokens (> 1% of all token occurrences) via
    the bounded-memory Misra-Gries two-pass in operators.sketch — the
    exact same rows as the full GROUP BY .. HAVING the oracle runs, but
    with O(1/phi) state per task instead of the whole key space."""
    from providenciasbigdata_spark.operators.sketch import heavy_hitters

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(tokenize(F.col("text"))).alias("token"))
    return heavy_hitters(toks, "token", phi=0.01)


_HEAVY_HITTERS_SQL = f"""
WITH toks AS (
  SELECT unnest({_TOKENS}) AS token FROM documents
), counts AS (
  SELECT token, COUNT(*) AS cnt FROM toks GROUP BY token
)
SELECT token, cnt FROM counts
WHERE cnt > 0.01 * (SELECT COUNT(*) FROM toks)
"""


def q_quality_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-scan expectations suite over ``orders``: nullability,
    key uniqueness, value ranges, and categorical domain — all checks
    compiled into ONE aggregate over one parquet scan
    (operators.quality; plan pinned in test_plans.py)."""
    from providenciasbigdata_spark.operators import quality as Q

    orders = load_table(spark, sf_dir, "orders")
    return Q.validate_expectations(
        orders,
        [
            Q.row_count_min(1),
            Q.not_null("o_orderkey"),
            Q.not_null("o_custkey"),
            Q.unique("o_orderkey"),
            Q.min_value("o_totalprice", 0.0),
            Q.in_set("o_orderstatus", ["F", "O", "P"]),
            Q.in_set(
                "o_orderpriority",
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
            ),
        ],
    )


_EXPECTATIONS_SQL = """
WITH m AS (
  SELECT
    CASE WHEN COUNT(*) < 1 THEN 1 ELSE 0 END AS row_count_min,
    SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS not_null_o_orderkey,
    SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS not_null_o_custkey,
    COUNT(o_orderkey) - COUNT(DISTINCT o_orderkey) AS unique_o_orderkey,
    SUM(CASE WHEN o_totalprice < 0.0 THEN 1 ELSE 0 END) AS min_value_o_totalprice,
    SUM(CASE WHEN o_orderstatus IS NOT NULL
              AND o_orderstatus NOT IN ('F','O','P') THEN 1 ELSE 0 END)
      AS in_set_o_orderstatus,
    SUM(CASE WHEN o_orderpriority IS NOT NULL
              AND o_orderpriority NOT IN
                ('1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED','5-LOW')
             THEN 1 ELSE 0 END) AS in_set_o_orderpriority
  FROM orders)
SELECT "check", CAST(violations AS BIGINT) AS violations, violations = 0 AS passed
FROM (
  SELECT 'row_count_min' AS "check", row_count_min AS violations FROM m
  UNION ALL SELECT 'not_null_o_orderkey', not_null_o_orderkey FROM m
  UNION ALL SELECT 'not_null_o_custkey', not_null_o_custkey FROM m
  UNION ALL SELECT 'unique_o_orderkey', unique_o_orderkey FROM m
  UNION ALL SELECT 'min_value_o_totalprice', min_value_o_totalprice FROM m
  UNION ALL SELECT 'in_set_o_orderstatus', in_set_o_orderstatus FROM m
  UNION ALL SELECT 'in_set_o_orderpriority', in_set_o_orderpriority FROM m)
"""


def q_hll_daily_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day + cumulative distinct users from mergeable HLL sketches
    (operators.sketch.hll_daily_cumulative). Estimates are
    deterministic but not SQL-reproducible (Datasketches hashing) —
    rows-only here; the <=2% error bound vs exact is pinned in
    tests/test_sketch_hll.py."""
    from providenciasbigdata_spark.operators.sketch import hll_daily_cumulative

    ev = load_table(spark, sf_dir, "events")
    return hll_daily_cumulative(ev)


def q_training_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted training mix (operators.mix): per-language
    sources sampled at different rates (en 0.8 / es 0.5 / fr 0.25),
    tagged and unioned. md5-threshold sampling is reproducible across
    engines/runs/retries, so the EXACT mixed row set is oracle-checked
    — not just its size."""
    from providenciasbigdata_spark.operators.mix import mix_corpus

    docs = load_table(spark, sf_dir, "documents")
    sources = [
        (lang, docs.filter(F.col("lang") == lang), rate)
        for lang, rate in _MIX_RATES
    ]
    return mix_corpus(sources).select("doc_id", "mix_source", "n_chars")


_MIX_RATES = [("en", 0.8), ("es", 0.5), ("fr", 0.25)]

_MIX_LANGS = ["en", "es", "fr"]
_MIX_BUDGET = 20_000  # target total n_chars across the tempered mix


def q_mix_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-flattened training mix (T=2: share ∝ sqrt(corpus
    size) — low-resource languages up-weighted vs natural sampling):
    rates derive from per-language totals in a fixed IEEE evaluation
    order, so the oracle replays the whole rate computation (sqrt,
    adds, divides — each correctly rounded) bit-identically and the
    EXACT sampled row set hash-checks."""
    from providenciasbigdata_spark.operators.mix import (
        mix_corpus,
        temperature_rates,
    )

    docs = load_table(spark, sf_dir, "documents")
    sources = [(lang, docs.filter(F.col("lang") == lang)) for lang in _MIX_LANGS]
    rated = temperature_rates(sources, budget=_MIX_BUDGET, temperature=2.0)
    return mix_corpus(rated).select("doc_id", "mix_source", "n_chars")


def _mix_temperature_sql() -> str:
    sub = {
        lang: f"(SELECT CAST(COALESCE(SUM(n_chars), 0) AS DOUBLE) "
        f"FROM documents WHERE lang = '{lang}')"
        for lang in _MIX_LANGS
    }
    tot = " + ".join(f"sqrt(s_{lang})" for lang in _MIX_LANGS)
    sizes = ", ".join(f"{sub[lang]} AS s_{lang}" for lang in _MIX_LANGS)
    ths = ", ".join(
        f"CAST(floor(LEAST(1.0, {float(_MIX_BUDGET)} * (sqrt(s_{lang}) / tot) "
        f"/ s_{lang}) * 1152921504606846976.0) AS BIGINT) AS th_{lang}"
        for lang in _MIX_LANGS
    )
    branches = " UNION ALL ".join(
        f"SELECT d.doc_id, '{lang}' AS mix_source, d.n_chars "
        f"FROM documents d, t WHERE d.lang = '{lang}' AND "
        f"('0x' || substr(md5('{lang}' || CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT "
        f"< t.th_{lang}"
        for lang in _MIX_LANGS
    )
    return (
        f"WITH s AS (SELECT {sizes}), "
        f"r AS (SELECT *, {tot} AS tot FROM s), "
        f"t AS (SELECT {ths} FROM r) {branches}"
    )


def _mix_sql() -> str:
    from providenciasbigdata_spark.operators.mix import rate_threshold_hex

    branches = [
        f"SELECT doc_id, '{lang}' AS mix_source, n_chars FROM documents "
        f"WHERE lang = '{lang}' AND "
        f"substr(md5('{lang}' || CAST(doc_id AS VARCHAR)), 1, 15) "
        f"< '{rate_threshold_hex(rate)}'"
        for lang, rate in _MIX_RATES
    ]
    return " UNION ALL ".join(branches)


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weight-proportional document sampling (longer
    documents proportionally likelier, without replacement) — the
    training-mix primitive for quality- or length-weighted corpus
    draws. The exponential-clock keys derive from md5 buckets both
    engines compute identically, so the selected SET is exact and
    oracle-checked; the clock itself (a double) stays internal."""
    from providenciasbigdata_spark.operators.mix import weighted_sample_topk

    docs = load_table(spark, sf_dir, "documents")
    return weighted_sample_topk(docs, "n_chars", k=30).select(
        "doc_id", "n_chars", "lang"
    )


_WEIGHTED_SAMPLE_SQL = """
WITH keyed AS (
  SELECT doc_id, n_chars, lang,
         -ln((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT + 0.5)
             / 1152921504606846976.0) / n_chars AS clock
  FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0
)
SELECT doc_id, n_chars, lang FROM keyed ORDER BY clock ASC, doc_id ASC LIMIT 30
"""


def q_split_train_val_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test split (operators.mix):
    md5-bucket assignment is identical across runs, partitions,
    retries, AND engines — so the per-split document and token totals
    hash-check exactly. Map-only; the one shuffle is the final 3-row
    summary aggregate."""
    from providenciasbigdata_spark.operators.mix import train_val_test_split

    docs = load_table(spark, sf_dir, "documents")
    return (
        train_val_test_split(docs, "doc_id", train=0.8, val=0.1)
        .groupBy("split")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
    )


def _split_sql() -> str:
    from providenciasbigdata_spark.operators.mix import rate_threshold_hex

    t_train, t_val = rate_threshold_hex(0.8), rate_threshold_hex(0.9)
    return f"""
SELECT CASE WHEN substr(md5('split' || CAST(doc_id AS VARCHAR)), 1, 15) < '{t_train}'
            THEN 'train'
            WHEN substr(md5('split' || CAST(doc_id AS VARCHAR)), 1, 15) < '{t_val}'
            THEN 'val' ELSE 'test' END AS split,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM documents GROUP BY 1
"""


def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus snapshot diff (operators.cdc.snapshot_diff): v0 = docs
    0..399, v1 = docs 100.. with every 50th text amended — classify
    added / removed / changed keys. The join carries keys + one md5
    digest per side (computed map-side), never the row payload."""
    from providenciasbigdata_spark.operators.cdc import snapshot_diff

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    old = docs.filter(F.col("doc_id") < 400)
    new = docs.filter(F.col("doc_id") >= 100).select(
        "doc_id",
        F.when(F.col("doc_id") % 50 == 0, F.concat(F.col("text"), F.lit(" v2")))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return snapshot_diff(old, new, keys=["doc_id"])


_SNAPSHOT_DIFF_SQL = """
WITH old AS (
  SELECT doc_id, md5(COALESCE(text, chr(0))) AS h FROM documents WHERE doc_id < 400
), new AS (
  SELECT doc_id,
         md5(COALESCE(CASE WHEN doc_id % 50 = 0 THEN text || ' v2' ELSE text END,
                      chr(0))) AS h
  FROM documents WHERE doc_id >= 100
)
SELECT doc_id,
       CASE WHEN o.h IS NULL THEN 'added'
            WHEN n.h IS NULL THEN 'removed'
            WHEN o.h <> n.h THEN 'changed' END AS change
FROM old o FULL OUTER JOIN new n USING (doc_id)
WHERE (CASE WHEN o.h IS NULL THEN 'added'
            WHEN n.h IS NULL THEN 'removed'
            WHEN o.h <> n.h THEN 'changed' END) IS NOT NULL
"""


def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023): every document
    scored by hashed-ngram likelihood ratio against an English target
    slice — the data-selection op that turns raw crawl into a
    target-like training mix (feed to weighted_sample_topk for the
    resampling step). Oracle-checked since round 11: the per-bucket
    deltas are quantized to the 2^-20 dyadic grid inside
    dsir_log_weights, making the weighted log-sum EXACT in IEEE double
    — order-independent and engine-independent — so the DuckDB twin
    (same md5 buckets, same quantization) value-hashes; the F30 1-ulp
    ln() divergence can only move a delta across a grid midpoint, a
    deterministic ~2^-32 per-bucket coincidence absent from the
    fixtures. Also numpy-pinned in tests/test_training_ext.py."""
    from providenciasbigdata_spark.operators.mix import dsir_log_weights

    docs = load_table(spark, sf_dir, "documents")
    target = docs.filter(F.col("lang") == "en")
    out = dsir_log_weights(docs, target, n_buckets=4096)
    return out.select(
        "doc_id", "n_feats", F.round("log_weight", 6).alias("log_weight")
    )


# md5 bucket: Spark takes the 15-hex-char prefix as an integer mod 4096
# = the low 12 bits = exactly hex chars 13..15 of the digest, which
# DuckDB parses directly via the '0x' string cast.
_DSIR_SQL = f"""
WITH toks AS (SELECT doc_id, {_TOKENS} AS t FROM documents),
feats AS (
  SELECT doc_id,
         unnest(list_concat(t,
             list_transform(range(greatest(len(t) - 1, 0)),
                            i -> concat_ws(' ', t[i+1], t[i+2])))) AS gram
  FROM toks
),
bf AS (
  SELECT doc_id, ('0x' || substring(md5(gram), 13, 3))::BIGINT AS bucket
  FROM feats
),
doc_counts AS (SELECT doc_id, bucket, COUNT(*) AS c FROM bf GROUP BY 1, 2),
src AS (SELECT bucket, SUM(c) AS s FROM doc_counts GROUP BY 1),
tgt AS (
  SELECT bucket, SUM(c) AS s
  FROM doc_counts
  JOIN (SELECT DISTINCT doc_id FROM documents WHERE lang = 'en') USING (doc_id)
  GROUP BY 1
),
d AS (
  SELECT (SELECT SUM(s) FROM src) + 4096.0 AS sd,
         (SELECT COALESCE(SUM(s), 0) FROM tgt) + 4096.0 AS td
),
-- same 2^-20 dyadic quantization as dsir_log_weights: the weighted sum
-- below is then exact, so it value-hashes against Spark bit-for-bit
delta AS (
  SELECT s.bucket,
         floor((ln((COALESCE(t.s, 0) + 1) / d.td)
                - ln((s.s + 1) / d.sd)) * 1048576.0 + 0.5) / 1048576.0 AS dq
  FROM src s LEFT JOIN tgt t USING (bucket), d
)
SELECT dc.doc_id,
       CAST(SUM(dc.c) AS BIGINT) AS n_feats,
       ROUND(SUM(dc.c * dl.dq), 6) AS log_weight
FROM doc_counts dc JOIN delta dl USING (bucket)
GROUP BY dc.doc_id
"""


def q_gopher_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher quality-rule bundle (Rae et al. 2021): seven heuristic
    flags + the combined gate, every ratio bound a cross-multiplied
    INTEGER comparison so the whole rule set is exact cross-engine.
    One map-only projection over one scan."""
    from providenciasbigdata_spark.operators.curate import gopher_quality_flags

    docs = load_table(spark, sf_dir, "documents")
    out = gopher_quality_flags(docs)
    return out.select(
        "doc_id", "flag_word_count", "flag_mean_word_len", "flag_bullet",
        "flag_ellipsis", "flag_symbol", "flag_alpha", "flag_stopwords",
        "pass_gopher",
    )


_GOPHER_SQL = r"""
WITH m AS (
  SELECT doc_id,
         list_filter(string_split_regex(COALESCE(text, ''), '\s+'), w -> w <> '') AS words,
         length(regexp_replace(COALESCE(text, ''), '\s', '', 'g')) AS non_ws,
         list_filter(string_split(COALESCE(text, ''), chr(10)), l -> length(trim(l)) > 0) AS lines,
         length(COALESCE(text, '')) - length(replace(COALESCE(text, ''), '#', '')) AS n_hash,
         (length(COALESCE(text, '')) - length(replace(COALESCE(text, ''), '...', ''))) // 3 AS n_dots
  FROM documents
), c AS (
  SELECT doc_id, non_ws, n_hash, n_dots,
         len(words) AS n_words,
         len(lines) AS n_lines,
         len(list_filter(lines, l -> starts_with(ltrim(l), '-')
                                  OR starts_with(ltrim(l), '*')
                                  OR starts_with(ltrim(l), '•'))) AS n_bullet,
         len(list_filter(lines, l -> ends_with(rtrim(l), '...')
                                  OR ends_with(rtrim(l), '…'))) AS n_ellipsis,
         len(list_filter(words, w -> regexp_matches(w, '[A-Za-z]'))) AS n_alpha,
         len(list_intersect(list_distinct(list_transform(words, w -> lower(w))),
             ['the','be','to','of','and','that','have','with'])) AS stop_hits
  FROM m
)
SELECT doc_id,
       n_words >= 50 AND n_words <= 100000 AS flag_word_count,
       n_words > 0 AND non_ws >= 3 * n_words AND non_ws <= 10 * n_words AS flag_mean_word_len,
       n_lines = 0 OR 10 * n_bullet < 9 * n_lines AS flag_bullet,
       n_lines = 0 OR 10 * n_ellipsis < 3 * n_lines AS flag_ellipsis,
       10 * (n_hash + n_dots) < n_words AS flag_symbol,
       5 * n_alpha > 4 * n_words AS flag_alpha,
       stop_hits >= 2 AS flag_stopwords,
       (n_words >= 50 AND n_words <= 100000)
       AND (n_words > 0 AND non_ws >= 3 * n_words AND non_ws <= 10 * n_words)
       AND (n_lines = 0 OR 10 * n_bullet < 9 * n_lines)
       AND (n_lines = 0 OR 10 * n_ellipsis < 3 * n_lines)
       AND (10 * (n_hash + n_dots) < n_words)
       AND (5 * n_alpha > 4 * n_words)
       AND (stop_hits >= 2) AS pass_gopher
FROM c
"""


def q_drift_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift gate: exact two-sample KS statistic between
    the order-price distributions of two pipeline 'batches' (urgent vs
    low priority orders — a stand-in for reference-window vs new-batch
    feature monitoring). D is the max over distinct union values of
    the inclusive-ECDF difference; the engine computes the cumulative
    counts with the two-phase range-partitioned prefix sum (no
    single-partition data window), the oracle with a plain window —
    both reduce to one IEEE division per side and an order-independent
    max, so the double value-hashes exactly."""
    from providenciasbigdata_spark.operators.quality import ks_statistic

    orders = load_table(spark, sf_dir, "orders")
    a = orders.filter(F.col("o_orderpriority") == "1-URGENT").select("o_totalprice")
    b = orders.filter(F.col("o_orderpriority") == "5-LOW").select("o_totalprice")
    return ks_statistic(a, b, "o_totalprice").select(
        "ks", F.col("n_a").cast("bigint").alias("n_a"),
        F.col("n_b").cast("bigint").alias("n_b"),
    )


_DRIFT_KS_SQL = """
WITH hist AS (
  SELECT o_totalprice AS v,
         SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS ca,
         SUM(CASE WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 0 END) AS cb
  FROM orders
  WHERE o_orderpriority IN ('1-URGENT', '5-LOW') AND o_totalprice IS NOT NULL
  GROUP BY o_totalprice),
c AS (
  SELECT SUM(ca) OVER (ORDER BY v) AS cum_a,
         SUM(cb) OVER (ORDER BY v) AS cum_b,
         (SELECT SUM(ca) FROM hist) AS na,
         (SELECT SUM(cb) FROM hist) AS nb
  FROM hist)
SELECT MAX(ABS(CAST(cum_a AS DOUBLE) / na - CAST(cum_b AS DOUBLE) / nb)) AS ks,
       CAST(MAX(na) AS BIGINT) AS n_a, CAST(MAX(nb) AS BIGINT) AS n_b
FROM c
"""


def q_curate_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encoding-health screen (round 6): the fixture corpus is clean,
    so the query deterministically injects the three corruption
    classes the screen exists for — a U+FFFD replacement char on every
    7th doc, a Latin-1 mojibake pair on every 5th, a raw control byte
    on every 3rd (the oracle replays the identical injection) — then
    audits per language: docs, failing docs, and the three exact
    counters. Map-only integer arithmetic end-to-end."""
    from providenciasbigdata_spark.operators.curate import encoding_screen

    docs = load_table(spark, sf_dir, "documents").withColumn(
        "text",
        F.concat(
            F.coalesce(F.col("text"), F.lit("")),
            F.when(F.col("doc_id") % 7 == 0, F.lit("�")).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 5 == 0, F.lit("Ã©")).otherwise(
                F.lit("")
            ),
            F.when(F.col("doc_id") % 3 == 0, F.lit("\x07")).otherwise(F.lit("")),
        ),
    )
    return (
        encoding_screen(docs)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("docs"),
            F.sum((~F.col("pass_encoding")).cast("long")).cast("long").alias("bad_docs"),
            F.sum("n_replacement").cast("long").alias("repl"),
            F.sum("n_control").cast("long").alias("ctrl"),
            F.sum("n_mojibake").cast("long").alias("moji"),
        )
    )


_CURATE_ENCODING_SQL = """
WITH injected AS (
  SELECT lang,
         COALESCE(text, '')
           || CASE WHEN doc_id % 7 = 0 THEN chr(65533) ELSE '' END
           || CASE WHEN doc_id % 5 = 0 THEN chr(195) || chr(169) ELSE '' END
           || CASE WHEN doc_id % 3 = 0 THEN chr(7) ELSE '' END AS text
  FROM documents),
m AS (
  SELECT lang,
         length(text) - length(replace(text, chr(65533), '')) AS n_repl,
         len(regexp_extract_all(text,
             '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]')) AS n_ctrl,
         len(regexp_extract_all(text,
             chr(195) || '[' || chr(128) || '-' || chr(255) || ']|'
             || chr(226) || '[' || chr(128) || chr(8364) || ']|'
             || chr(194) || '[' || chr(160) || '-' || chr(191) || ']'))
           AS n_moji
  FROM injected)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS docs,
       CAST(SUM(CASE WHEN n_repl + n_ctrl + n_moji > 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS bad_docs,
       CAST(SUM(n_repl) AS BIGINT) AS repl,
       CAST(SUM(n_ctrl) AS BIGINT) AS ctrl,
       CAST(SUM(n_moji) AS BIGINT) AS moji
FROM m GROUP BY lang
"""


def q_drift_w1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Wasserstein-1 (earth-mover) drift between the quantity
    distributions of returned vs delivered lineitems — the drift gate
    that weighs HOW FAR mass moved, complementing the KS max-gap above.
    l_quantity is integer-valued, so every |cum_a·n_b − cum_b·n_a|·gap
    term is exact 128-bit integer arithmetic on both engines (Spark
    DECIMAL(38,0), DuckDB HUGEINT) and the single closing division is
    IEEE-correctly-rounded → the double value-hashes unrounded."""
    from providenciasbigdata_spark.operators.quality import wasserstein_1

    li = load_table(spark, sf_dir, "lineitem")
    a = li.filter(F.col("l_returnflag") == "R").select("l_quantity")
    b = li.filter(F.col("l_returnflag") == "N").select("l_quantity")
    return wasserstein_1(a, b, "l_quantity").select(
        "w1",
        F.col("n_a").cast("bigint").alias("n_a"),
        F.col("n_b").cast("bigint").alias("n_b"),
    )


_DRIFT_W1_SQL = """
WITH hist AS (
  SELECT CAST(l_quantity AS BIGINT) AS v,
         SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS ca,
         SUM(CASE WHEN l_returnflag = 'N' THEN 1 ELSE 0 END) AS cb
  FROM lineitem
  WHERE l_returnflag IN ('R', 'N') AND l_quantity IS NOT NULL
  GROUP BY 1),
c AS (
  SELECT SUM(ca) OVER (ORDER BY v) AS cum_a,
         SUM(cb) OVER (ORDER BY v) AS cum_b,
         COALESCE(LEAD(v) OVER (ORDER BY v) - v, 0) AS gap,
         (SELECT SUM(ca) FROM hist) AS na,
         (SELECT SUM(cb) FROM hist) AS nb
  FROM hist)
SELECT CAST(SUM(ABS(cum_a * nb - cum_b * na) * gap) AS DOUBLE)
         / CAST(MAX(na) * MAX(nb) AS DOUBLE) AS w1,
       CAST(MAX(na) AS BIGINT) AS n_a,
       CAST(MAX(nb) AS BIGINT) AS n_b
FROM c
"""


def q_mix_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget epoch plan (round 6): whitespace-token counts per
    language, integer mix shares 5:2:1:1:1, 100k-token budget, 4-epoch
    cap (Muennighoff et al. 2023). Every double derives from exact
    integers through a fixed op order (share = w/Σw, target =
    budget·share, epochs = target/tokens) — one correctly-rounded op
    at a time, so the row value-hashes UNROUNDED."""
    from providenciasbigdata_spark.operators.mix import epoch_plan

    docs = load_table(spark, sf_dir, "documents")
    toks = F.size(
        F.filter(
            F.split(F.coalesce(F.col("text"), F.lit("")), r"\s+"),
            lambda w: w != F.lit(""),
        )
    )
    d = docs.select("lang", toks.alias("n_tok"))
    return epoch_plan(
        d, "lang", "n_tok",
        weights={"en": 5, "es": 2, "fr": 1, "de": 1, "zh": 1},
        budget_tokens=100_000, max_epochs=4.0,
    )


_MIX_EPOCHS_SQL = r"""
WITH t AS (
  SELECT lang,
         CAST(SUM(len(list_filter(string_split_regex(COALESCE(text, ''), '\s+'),
                                  w -> w <> ''))) AS BIGINT) AS tokens
  FROM documents GROUP BY lang),
p AS (
  SELECT lang, tokens,
         CAST(100000 AS DOUBLE) *
           (CAST(CASE lang WHEN 'en' THEN 5 WHEN 'es' THEN 2 WHEN 'fr' THEN 1
                           WHEN 'de' THEN 1 WHEN 'zh' THEN 1 ELSE 0 END AS DOUBLE)
            / CAST(10 AS DOUBLE)) AS target_tokens
  FROM t),
e AS (
  SELECT lang, tokens, target_tokens,
         CASE WHEN tokens > 0 THEN target_tokens / CAST(tokens AS DOUBLE) END
           AS epochs
  FROM p)
SELECT lang, tokens, target_tokens, epochs,
       CASE WHEN tokens > 0 THEN LEAST(epochs, 4.0) END AS capped_epochs,
       CASE WHEN tokens > 0 THEN epochs > 4.0 END AS needs_cap
FROM e
"""


def q_curate_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText-style corpus classifier (round 6): logistic regression
    over hashed token presence features, trained distributed (one
    explode+groupBy gradient job per iteration, DECIMAL-exact sums →
    bit-deterministic across runs) — the quality/domain-filter shape
    of GPT-3/CCNet/RefinedWeb pipelines. The label here is WEAK-LABEL
    DISTILLATION (the standard bootstrap: rule-based labels, learned
    generalizer): y = "document mentions a slowness/duplication token",
    and the trained weights must rediscover exactly those buckets as
    the most discriminative features (the fixture's lang/source
    metadata is uncorrelated with its synthetic text, so a metadata
    label would have no signal by construction; and dim matters — at
    dim=128 the marker bucket COLLIDES with an always-present token
    and caps accuracy at prevalence, the textbook hashing-trick
    failure, so this query runs at dim=512 where every vocab token
    has a private bucket). Output: the 20 most
    discriminative hash buckets with their weights, plus a
    train-accuracy audit row (bucket = -1)."""
    from providenciasbigdata_spark.functions.text import tokenize
    from providenciasbigdata_spark.operators.classifier import (
        predict_logistic,
        train_logistic_hashed,
    )

    markers = ["slow", "dup"]
    docs = load_table(spark, sf_dir, "documents").withColumn(
        "label",
        F.arrays_overlap(
            tokenize(F.col("text")), F.array(*[F.lit(m) for m in markers])
        ).cast("int"),
    )
    model = train_logistic_hashed(docs, "label", dim=512, iters=20, lr=4.0)
    scored = predict_logistic(docs, model)
    acc = (
        scored.select(
            ((F.col("score") > 0.5).cast("int") == F.col("label"))
            .cast("int")
            .alias("ok")
        )
        .agg(F.round(F.avg("ok"), 4))
        .first()[0]
    )
    top = sorted(
        ((j, w) for j, w in enumerate(model.weights)),
        key=lambda p: (-abs(p[1]), p[0]),
    )[:20]
    rows = [(int(j), round(float(w), 6)) for j, w in top]
    rows.append((-1, float(acc)))
    return local_frame(spark, rows, "bucket long, weight double")


def _synthetic_weights_millionths(dim: int, salt: str = "w") -> list[int]:
    """Deterministic synthetic model in integer millionths of [-1, 1]:
    ``md5(salt||j)``-prefix mod 2000001, shifted. Replayed verbatim by
    the DuckDB oracle, so the weight VECTOR needs no side-channel."""
    import hashlib

    return [
        int(hashlib.md5(f"{salt}{j}".encode()).hexdigest()[:6], 16) % 2000001
        - 1000000
        for j in range(dim)
    ]


def q_classifier_score_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The classifier SCORING path, externally hash-verifiable (round
    13, verdict-r12 item 6). ``curate_quality_classifier`` stays
    rows-only because TRAINING is obstructed twice over (xxhash64
    features, per-row exp() ulps inside the gradient); but scoring —
    featurize → distinct buckets → literal-weight fold → threshold —
    is the part that runs over the 100-TB corpus, and it quantizes
    clean: md5-prefix bucket hashing (the SimHash-v2 trade) + the
    model in integer millionths make the margin EXACT 64-bit integer
    arithmetic, and ``margin > 0 ≡ sigmoid > 0.5`` (monotone), so the
    decision is identical except within 1e-6 of the boundary.
    Recorded finding: quantization does NOT break classifier quality —
    it is exact on the decision side; only the probability VALUE needs
    floats. Weights here are a deterministic synthetic model (the
    oracle replays the md5 formula; a trained vector would need a
    side-channel the static oracle cannot see)."""
    from providenciasbigdata_spark.operators.classifier import (
        score_margin_millionths,
    )

    dim, bias_m = 512, -250000
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.coalesce(F.col("text"), F.lit("")).alias("text")
    )
    scored = score_margin_millionths(
        docs, _synthetic_weights_millionths(dim), bias_m, hash_family="md5"
    )
    return scored.select(
        "doc_id",
        F.size("buckets").cast("long").alias("n_features"),
        F.col("margin_millionths").cast("long").alias("margin_millionths"),
        (F.col("margin_millionths") > 0).cast("long").alias("label"),
    )


_SCORE_QUANTIZED_SQL = f"""
WITH toks AS (
  SELECT doc_id,
         {_TOKENS.replace("lower(text)", "lower(COALESCE(text, ''))")} AS t
  FROM documents
),
b AS (
  SELECT doc_id,
         list_distinct(list_transform(t, tok ->
           CAST(('0x' || substr(md5(tok), 1, 8))::BIGINT % 512 AS INT))) AS buckets
  FROM toks
)
SELECT doc_id,
       CAST(len(buckets) AS BIGINT) AS n_features,
       CAST(-250000 + COALESCE(list_sum(list_transform(buckets, j ->
         ('0x' || substr(md5('w' || CAST(j AS VARCHAR)), 1, 6))::BIGINT
           % 2000001 - 1000000)), 0) AS BIGINT) AS margin_millionths,
       CAST(CASE WHEN -250000 + COALESCE(list_sum(list_transform(buckets, j ->
         ('0x' || substr(md5('w' || CAST(j AS VARCHAR)), 1, 6))::BIGINT
           % 2000001 - 1000000)), 0) > 0 THEN 1 ELSE 0 END AS BIGINT) AS label
FROM b
"""


def q_training_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global training-order shuffle (round 7,
    operators/mix.py::shuffle_to_shards): every document gets a
    (shard, pos) under a seeded md5 permutation — the sharded-reader
    layout of a training run. Oracle reproduces shard and pos
    bit-for-bit (same md5 key, same hex→int, same rank); the per-shard
    summary keeps the checked frame compact while pinning the full
    permutation through min/max/count and an order-sensitive
    position-weighted id sum."""
    from providenciasbigdata_spark.operators.mix import shuffle_to_shards

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    sh = shuffle_to_shards(docs, "doc_id", n_shards=8, seed="r7")
    return sh.groupBy("shard").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.min("pos").cast("long").alias("min_pos"),
        F.max("pos").cast("long").alias("max_pos"),
        F.sum(F.col("pos") * F.col("doc_id")).cast("long").alias("pos_dot_id"),
        F.min(F.when(F.col("pos") == 0, F.col("doc_id"))).cast("long").alias("head_id"),
    )


_SHUFFLE_SHARDS_SQL = """
WITH k AS (
  SELECT doc_id,
         md5('r7' || CAST(doc_id AS VARCHAR)) AS key
  FROM documents
), s AS (
  SELECT doc_id, key,
         CAST(CAST('0x' || substr(key, 1, 12) AS BIGINT) % 8 AS INTEGER) AS shard
  FROM k
), p AS (
  SELECT doc_id, shard,
         CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY key, doc_id) - 1
              AS BIGINT) AS pos
  FROM s
)
SELECT shard,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(MIN(pos) AS BIGINT) AS min_pos,
       CAST(MAX(pos) AS BIGINT) AS max_pos,
       CAST(SUM(pos * doc_id) AS BIGINT) AS pos_dot_id,
       CAST(MIN(CASE WHEN pos = 0 THEN doc_id END) AS BIGINT) AS head_id
FROM p GROUP BY shard
"""


def q_contamination_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FUZZY benchmark decontamination (round 7,
    operators/dedup.py::minhash_cross_contamination): corpus docs that
    are NEAR-duplicates of an eval-suite doc — catches paraphrased /
    truncated leakage the exact 5-gram screen (contamination_ngram_
    overlap) underestimates. LSH bands BETWEEN corpus and benchmark
    (the benchmark side is tiny; no corpus self-join), exact-Jaccard
    verify on cross candidates only. Oracle-checked since round 11:
    the brute-force exact cross-Jaccard best-match join — exactness of
    the verify step makes precision 1 by construction, and on the
    gated fixture the true cross-pair set at j >= 0.5 is EMPTY (the
    planted near-dups never straddle the %97 split), so the hash row
    pins that the LSH path invents nothing; recall on planted
    contamination is pinned in tests/test_training_ext.py."""
    from providenciasbigdata_spark.operators.dedup import (
        minhash_cross_contamination,
    )

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 97 != 0)
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    return minhash_cross_contamination(
        corpus, bench, threshold=0.5, bands=16, rows_per_band=4, ngram=3
    )


_CONTAM_FUZZY_SQL = f"""
WITH toks AS (SELECT doc_id, {_TOKENS} AS t FROM documents),
grams AS (SELECT doc_id, list_distinct({{g3}}) AS gs FROM toks),
sizes AS (SELECT doc_id, len(gs) AS sz FROM grams),
ge AS (SELECT doc_id, unnest(gs) AS g FROM grams),
cross_c AS (
  SELECT c.doc_id AS doc_id, b.doc_id AS bench_id, COUNT(*) AS inter
  FROM (SELECT * FROM ge WHERE doc_id % 97 <> 0) c
  JOIN (SELECT * FROM ge WHERE doc_id % 97 = 0) b ON c.g = b.g
  GROUP BY 1, 2
),
jac AS (
  SELECT x.doc_id, x.bench_id,
         ROUND(CAST(x.inter AS DOUBLE)
               / GREATEST(CAST(sc.sz + sb.sz - x.inter AS DOUBLE), 1.0), 6) AS jaccard
  FROM cross_c x
  JOIN sizes sc ON sc.doc_id = x.doc_id
  JOIN sizes sb ON sb.doc_id = x.bench_id
),
best AS (
  SELECT doc_id, bench_id, jaccard,
         ROW_NUMBER() OVER (PARTITION BY doc_id
                            ORDER BY jaccard DESC, bench_id) AS rn
  FROM jac WHERE jaccard >= 0.5
)
SELECT doc_id, bench_id, jaccard FROM best WHERE rn = 1
""".replace("{g3}", _grams_sql(3))


def q_drift_chisq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-squared CATEGORICAL drift (round 7,
    operators/quality.py::chisq_drift): the event_type distribution of
    two user cohorts compared per category — the categorical
    counterpart of the KS/W1 numeric drift pair. Each row's
    contribution is a fixed IEEE expression over exact integer counts
    (no unordered double sum), so the doubles value-hash unrounded."""
    from providenciasbigdata_spark.operators.quality import chisq_drift

    ev = load_table(spark, sf_dir, "events")
    left = ev.filter(F.col("user_id") % 2 == 0)
    right = ev.filter(F.col("user_id") % 2 == 1)
    return chisq_drift(left, right, "event_type")


_DRIFT_CHISQ_SQL = """
WITH c1 AS (
  SELECT event_type AS category, COUNT(*) AS o1 FROM events
  WHERE user_id % 2 = 0 GROUP BY event_type
), c2 AS (
  SELECT event_type AS category, COUNT(*) AS o2 FROM events
  WHERE user_id % 2 = 1 GROUP BY event_type
), both_sides AS (
  SELECT COALESCE(c1.category, c2.category) AS category,
         COALESCE(o1, 0) AS o1, COALESCE(o2, 0) AS o2
  FROM c1 FULL JOIN c2 ON c1.category = c2.category
), tot AS (
  SELECT SUM(o1) AS n1, SUM(o2) AS n2 FROM both_sides
)
SELECT category,
       CAST(o1 AS BIGINT) AS o1,
       CAST(o2 AS BIGINT) AS o2,
       (CAST(o1 AS DOUBLE) - (CAST(n1 AS DOUBLE) * CAST(o1 + o2 AS DOUBLE)
                              / CAST(n1 + n2 AS DOUBLE)))
       * (CAST(o1 AS DOUBLE) - (CAST(n1 AS DOUBLE) * CAST(o1 + o2 AS DOUBLE)
                                / CAST(n1 + n2 AS DOUBLE)))
       / (CAST(n1 AS DOUBLE) * CAST(o1 + o2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE))
       +
       (CAST(o2 AS DOUBLE) - (CAST(n2 AS DOUBLE) * CAST(o1 + o2 AS DOUBLE)
                              / CAST(n1 + n2 AS DOUBLE)))
       * (CAST(o2 AS DOUBLE) - (CAST(n2 AS DOUBLE) * CAST(o1 + o2 AS DOUBLE)
                                / CAST(n1 + n2 AS DOUBLE)))
       / (CAST(n2 AS DOUBLE) * CAST(o1 + o2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE))
       AS contrib
FROM both_sides, tot
"""


def q_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PSI categorical drift (round 9, operators/quality.py::psi_drift)
    — the model-monitoring stability index beside the chi-squared
    twin, over the same two event cohorts: per-category
    (p − q)·ln(p/q) with 0.5 Laplace smoothing so one-sided categories
    stay finite. Fixed IEEE expressions over exact integer counts —
    unrounded value-hash against the oracle."""
    from providenciasbigdata_spark.operators.quality import psi_drift

    ev = load_table(spark, sf_dir, "events")
    left = ev.filter(F.col("user_id") % 2 == 0)
    right = ev.filter(F.col("user_id") % 2 == 1)
    return psi_drift(left, right, "event_type")


_DRIFT_PSI_SQL = """
WITH c1 AS (
  SELECT event_type AS category, COUNT(*) AS o1 FROM events
  WHERE user_id % 2 = 0 GROUP BY event_type
), c2 AS (
  SELECT event_type AS category, COUNT(*) AS o2 FROM events
  WHERE user_id % 2 = 1 GROUP BY event_type
), both_sides AS (
  SELECT COALESCE(c1.category, c2.category) AS category,
         COALESCE(o1, 0) AS o1, COALESCE(o2, 0) AS o2
  FROM c1 FULL JOIN c2 ON c1.category = c2.category
), tot AS (
  SELECT SUM(o1) AS n1, SUM(o2) AS n2, COUNT(*) AS k FROM both_sides
)
SELECT category,
       CAST(o1 AS BIGINT) AS o1,
       CAST(o2 AS BIGINT) AS o2,
       (CAST(o1 AS DOUBLE) + 0.5) / (CAST(n1 AS DOUBLE) + 0.5 * CAST(k AS DOUBLE)) AS p,
       (CAST(o2 AS DOUBLE) + 0.5) / (CAST(n2 AS DOUBLE) + 0.5 * CAST(k AS DOUBLE)) AS q,
       ((CAST(o1 AS DOUBLE) + 0.5) / (CAST(n1 AS DOUBLE) + 0.5 * CAST(k AS DOUBLE))
        - (CAST(o2 AS DOUBLE) + 0.5) / (CAST(n2 AS DOUBLE) + 0.5 * CAST(k AS DOUBLE)))
       * LN(((CAST(o1 AS DOUBLE) + 0.5) / (CAST(n1 AS DOUBLE) + 0.5 * CAST(k AS DOUBLE)))
            / ((CAST(o2 AS DOUBLE) + 0.5) / (CAST(n2 AS DOUBLE) + 0.5 * CAST(k AS DOUBLE))))
       AS contrib
FROM both_sides, tot
"""


QUERIES = {
    "curate_quality_classifier": (q_curate_quality_classifier, None),
    "classifier_score_quantized": (q_classifier_score_quantized, _SCORE_QUANTIZED_SQL),
    "drift_psi_event_types": (q_drift_psi, _DRIFT_PSI_SQL),
    "training_shuffle_shards": (q_training_shuffle_shards, _SHUFFLE_SHARDS_SQL),
    "contamination_fuzzy_minhash": (q_contamination_fuzzy, _CONTAM_FUZZY_SQL),
    "drift_chisq_event_types": (q_drift_chisq, _DRIFT_CHISQ_SQL),
    "drift_ks_totalprice": (q_drift_ks, _DRIFT_KS_SQL),
    "drift_wasserstein_quantity": (q_drift_w1, _DRIFT_W1_SQL),
    "training_mix_by_lang": (q_training_mix, _mix_sql()),
    "training_mix_temperature": (q_mix_temperature, _mix_temperature_sql()),
    "training_mix_epochs": (q_mix_epochs, _MIX_EPOCHS_SQL),
    "curate_gopher_flags": (q_gopher_flags, _GOPHER_SQL),
    "curate_encoding_screen": (q_curate_encoding, _CURATE_ENCODING_SQL),
    "split_train_val_test": (q_split_train_val_test, _split_sql()),
    "snapshot_diff_changes": (q_snapshot_diff, _SNAPSHOT_DIFF_SQL),
    "sample_weighted_by_length": (q_weighted_sample, _WEIGHTED_SAMPLE_SQL),
    "sketch_hll_daily_users": (q_hll_daily_users, None),
    "quality_expectations": (q_quality_expectations, _EXPECTATIONS_SQL),
    "text_repetition": (q_text_repetition, _REPETITION_SQL),
    "sketch_heavy_hitter_tokens": (q_heavy_hitter_tokens, _HEAVY_HITTERS_SQL),
    "text_pii_scan": (q_text_pii_scan, _PII_SQL),
    "text_pii_redaction": (q_text_pii_redaction, _PII_REDACT_SQL),
    "mix_stratified_sample": (q_mix_stratified_sample, _MIX_STRATIFIED_SQL),
    "contamination_ngram_overlap": (q_contamination, _CONTAMINATION_SQL),
    "pack_sequences": (q_pack_sequences, _PACK_SQL),
    "pack_first_fit_bins": (q_pack_first_fit, _PACK_FFD_SQL),
    "dsir_importance_weights": (q_dsir_weights, _DSIR_SQL),
}

WHY_NO_ORACLE = {
    "curate_quality_classifier": (
        "the GD loop itself would unroll as a recursive CTE (the round-11 "
        "BPE/FFD/Brandes device), but the obstructions are upstream: the "
        "hashed presence features use xxhash64 (no SQL engine reproduces "
        "it, and md5 would slow the 100-TB featurization scan), and every "
        "per-row sigmoid carries the 1-ulp exp() divergence INTO the "
        "gradient before any quantization could absorb it; the update rule "
        "is pinned bit-identical to a pure-numpy twin and bit-deterministic "
        "across runs in tests/test_classifier.py. The SCORING path — what "
        "actually runs over the full corpus — IS externally hash-verified "
        "via the oracle-backed sibling classifier_score_quantized (round "
        "13: md5 buckets + integer-millionths margin, exact by construction)"
    ),
    "sketch_hll_daily_users": (
        "per-day HyperLogLog++ registers merged across partitions — "
        "engine-specific sketch bytes; estimate-vs-exact error bound pinned "
        "in tests/test_sketch.py"
    ),
}
