"""Property tests for the dedup family (SURVEY.md §5.2 item 3):
approximate methods checked against exact baselines on sf0.001-derived
corpora with injected near-duplicates."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from providenciasbigdata_spark.io import load_table
from providenciasbigdata_spark.operators import dedup


def _corpus_with_dups(spark, sf_dir, n=40):
    """n originals + a near-dup of each (last word dropped) + one exact dup."""
    docs = load_table(spark, sf_dir, "documents").limit(n).select("doc_id", "text")
    near = docs.select(
        (F.col("doc_id") + 10_000).alias("doc_id"),
        F.regexp_replace(F.col("text"), r"\s+\S+\s*$", "").alias("text"),
    )
    exact = docs.filter(F.col("doc_id") == 0).select(
        (F.col("doc_id") + 20_000).alias("doc_id"), F.upper(F.col("text")).alias("text")
    )
    return docs.union(near).union(exact)


def test_dedup_exact_keeps_min_id(spark, sf_dir):
    corpus = _corpus_with_dups(spark, sf_dir)
    out = dedup.dedup_exact(corpus)
    # the case-changed exact dup of doc 0 must lose to doc 0
    ids = {r.doc_id for r in out.collect()}
    assert 0 in ids and 20_000 not in ids
    stats = dedup.dedup_stats(corpus).first()
    assert stats.n_dup_docs >= 1
    assert stats.n_docs == stats.n_distinct + stats.n_dup_docs


def test_minhash_recall_vs_exact_jaccard(spark, sf_dir):
    corpus = _corpus_with_dups(spark, sf_dir).cache()
    exact = {
        (r.left_id, r.right_id)
        for r in dedup.jaccard_pairs(corpus, ngram=3, threshold=0.6).collect()
    }
    assert exact, "injected near-dups must produce exact-Jaccard pairs"
    approx = {
        (r.left_id, r.right_id)
        for r in dedup.minhash_near_dups(
            corpus, threshold=0.6, bands=16, rows_per_band=4
        ).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.9, f"minhash recall {recall} < 0.9 over {len(exact)} true pairs"
    # precision is 1.0 by construction (exact verify on candidates)
    assert approx <= exact or all(p in exact for p in approx)
    corpus.unpersist()


def test_minhash_estimated_tracks_exact(spark, sf_dir):
    """The signature-agreement estimator must (a) find the injected
    near-dups and (b) agree with exact Jaccard within the k=64
    estimator tolerance on the pairs both report."""
    corpus = _corpus_with_dups(spark, sf_dir).cache()
    exact = {
        (r.left_id, r.right_id): r.jaccard
        for r in dedup.jaccard_pairs(corpus, ngram=3, threshold=0.5).collect()
    }
    est = {
        (r.left_id, r.right_id): r.jaccard_est
        for r in dedup.minhash_near_dups_estimated(
            corpus, threshold=0.5, bands=16, rows_per_band=4
        ).collect()
    }
    hit = set(exact) & set(est)
    assert len(hit) / len(exact) >= 0.8, f"estimator recall {len(hit)}/{len(exact)}"
    for p in hit:
        assert abs(exact[p] - est[p]) <= 0.25, (p, exact[p], est[p])
    corpus.unpersist()


def test_simhash_identical_and_near(spark, sf_dir):
    corpus = _corpus_with_dups(spark, sf_dir)
    fps = {r.id: r.simhash for r in dedup.simhash(corpus).collect()}
    # exact dup (case-folded): identical fingerprint
    assert fps[0] == fps[20_000]
    # near dup: small hamming distance
    ham = bin((fps[1] ^ fps[10_001]) & (2**64 - 1)).count("1")
    assert ham <= 8, f"near-dup hamming {ham} too large"


def test_simhash_near_dups_finds_injected(spark, sf_dir):
    corpus = _corpus_with_dups(spark, sf_dir)
    fps = dedup.simhash(corpus)
    pairs = {
        (r.left_id, r.right_id)
        for r in dedup.simhash_near_dups(fps, max_hamming=8).collect()
    }
    assert (0, 20_000) in pairs  # exact dup at hamming 0
    hits = sum(1 for (a, b) in pairs if b == a + 10_000)
    assert hits >= 10  # most injected near-dups found


def test_dedup_exact_incremental(spark, sf_dir):
    """Batch-vs-index: rows already in the historical hash index are
    dropped; fresh rows (and one intra-batch dup collapse) survive."""
    from providenciasbigdata_spark.functions.text import content_fingerprint

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    history = docs.filter(F.col("doc_id") < 20)
    index = history.select(
        content_fingerprint(F.col("text")).alias("content_hash")
    ).distinct()
    batch = (
        docs.filter((F.col("doc_id") >= 10) & (F.col("doc_id") < 40))  # 10 overlap
        .union(
            docs.filter(F.col("doc_id") == 30).select(
                (F.col("doc_id") + 9000).alias("doc_id"), "text"  # intra-batch dup
            )
        )
    )
    out = dedup.dedup_exact_incremental(batch, index)
    ids = {r.doc_id for r in out.collect()}
    assert ids == set(range(20, 40)), ids  # overlap dropped, dup collapsed


def test_minhash_incremental_finds_cross_corpus_pairs(spark, sf_dir):
    """A batch containing near-copies of indexed corpus docs must pair
    with them at high estimated Jaccard; unrelated docs must not."""
    corpus = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    index = dedup.minhash_signature(corpus)
    batch = corpus.filter(F.col("doc_id") < 10).select(
        (F.col("doc_id") + 5000).alias("doc_id"),
        F.regexp_replace(F.col("text"), r"\s+\S+\s*$", "").alias("text"),
    )
    pairs = dedup.minhash_near_dups_incremental(batch, index).filter(
        F.col("jaccard_est") >= 0.5
    )
    got = {(r.left_id, r.right_id) for r in pairs.collect()}
    hits = sum(1 for (l, r) in got if l == r + 5000)
    assert hits >= 8, f"only {hits}/10 near-copies matched their source: {got}"


def test_embedding_near_dups_threshold(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    out = dedup.embedding_near_dups(emb, threshold=0.25, left_filter=lambda c: c < 20)
    rows = out.collect()
    assert all(r.cosine >= 0.25 and r.left_id < r.right_id for r in rows)


def test_near_dup_clusters_are_transitive(spark):
    # A~B and B~C but no direct A~C pair: all three must share a cluster
    pairs = spark.createDataFrame([(1, 2), (2, 3), (7, 9)], "left_id long, right_id long")
    got = {r.doc_id: r.cluster for r in dedup.near_dup_clusters(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 7: 7, 9: 7}


def test_dedup_near_keeps_min_id_survivor(spark):
    base = "the quick brown fox jumps over the lazy dog again and again ok"
    rows = [
        (1, base),
        (2, base + " extra"),  # near-dup of 1
        (3, base + " extra more"),  # near-dup of 2 (chain)
        (10, "completely different text about spark shuffles and parquet files"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    kept = sorted(
        r.doc_id
        for r in dedup.dedup_near(
            df, threshold=0.5, bands=16, rows_per_band=4, ngram=2
        ).collect()
    )
    assert kept == [1, 10]


def test_dedup_embedding_survivor_properties(spark):
    """Semantic-dedup invariants: member counts cover the corpus
    exactly once; each survivor is the min id of its component; no two
    survivors are near-dups of each other (else they'd share a
    component)."""
    from providenciasbigdata_spark.io import load_table
    from providenciasbigdata_spark.operators.dedup import (
        dedup_embedding,
        embedding_near_dups,
    )

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").filter(
        F.col("vec_id") < 80
    )
    n = emb.count()
    surv = dedup_embedding(emb, threshold=30.0, scale=100.0, block_size=64)
    rows = surv.collect()
    assert sum(r.n_members for r in rows) == n
    ids = {r.survivor_id for r in rows}
    assert len(ids) == len(rows)  # one survivor per component
    # survivors are pairwise below threshold
    kept = emb.filter(F.col("vec_id").isin([int(i) for i in ids]))
    cross = embedding_near_dups(kept, threshold=0.30)
    assert cross.count() == 0


def test_cluster_blocked_pairs_precision_and_recall(spark):
    """Cluster-blocked SemDeDup candidates vs the exact kernel on the
    fixture: precision is 1.0 by construction (every emitted pair is
    exact-verified within its cluster), recall loses only cross-cluster
    pairs. The fixture's embeddings are near-random, the adversarial
    case for cluster blocking at a LOW threshold (0.30) — recall still
    holds >= 0.5 at k=4; at realistic near-dup thresholds duplicates
    are near-identical vectors and co-cluster by construction (pinned
    in test_dedup_embedding_cluster_agrees_on_clustered_corpus)."""
    from providenciasbigdata_spark.io import load_table
    from providenciasbigdata_spark.operators.similarity import (
        cluster_blocked_pairs,
        pairwise_cosine_blocked,
    )

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").filter(
        F.col("vec_id") < 150
    )
    exact = {
        (r.left_id, r.right_id)
        for r in pairwise_cosine_blocked(
            emb, 30.0, scale=100.0, block_size=64
        ).collect()
        if r.left_id < r.right_id
    }
    got = {
        (r.left_id, r.right_id)
        for r in cluster_blocked_pairs(
            emb, 30.0, scale=100.0, n_clusters=4
        ).collect()
    }
    assert got <= exact  # precision 1.0: no false pairs, ever
    assert len(got & exact) / len(exact) >= 0.5


def test_dedup_embedding_cluster_agrees_on_clustered_corpus(spark):
    """On a corpus whose duplicates ARE semantic clusters (the SemDeDup
    premise: 3 tight groups around distinct centers + isolated points),
    the cluster-blocked strategy reproduces the exact path's survivor
    set exactly — the quadratic-compute default buys nothing."""
    import numpy as np

    from providenciasbigdata_spark.operators.dedup import dedup_embedding

    rng = np.random.default_rng(7)
    rows = []
    centers = rng.normal(size=(3, 16))
    vid = 0
    for c in centers:
        for _ in range(12):  # near-identical members per group
            rows.append((vid, (c + rng.normal(scale=0.01, size=16)).tolist()))
            vid += 1
    for _ in range(6):  # isolated singletons
        rows.append((vid, rng.normal(size=16).tolist()))
        vid += 1
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    exact = {
        (r.survivor_id, r.n_members)
        for r in dedup_embedding(
            emb, threshold=95.0, scale=100.0, candidates="exact", block_size=16
        ).collect()
    }
    clustered = {
        (r.survivor_id, r.n_members)
        for r in dedup_embedding(
            emb, threshold=95.0, scale=100.0, candidates="cluster", n_clusters=4
        ).collect()
    }
    assert clustered == exact
    # srp strategy: exact-verified candidates, same survivor set here
    srp = {
        (r.survivor_id, r.n_members)
        for r in dedup_embedding(
            emb, threshold=95.0, scale=100.0, candidates="srp",
            srp_bits=4, srp_tables=8,
        ).collect()
    }
    assert srp == exact


def test_dedup_embedding_auto_dispatch_and_bad_strategy(spark):
    """auto == exact at/below the row threshold (bit-identical result);
    unknown strategy raises."""
    from providenciasbigdata_spark.io import load_table
    from providenciasbigdata_spark.operators.dedup import dedup_embedding

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").filter(
        F.col("vec_id") < 60
    )
    auto = {
        tuple(r)
        for r in dedup_embedding(
            emb, threshold=30.0, scale=100.0, block_size=64
        ).collect()
    }
    exact = {
        tuple(r)
        for r in dedup_embedding(
            emb, threshold=30.0, scale=100.0, block_size=64, candidates="exact"
        ).collect()
    }
    assert auto == exact
    with pytest.raises(ValueError, match="candidates"):
        dedup_embedding(emb, candidates="nope").collect()


def test_simhash_incremental_equals_cross_pairs_of_full(spark):
    """Batch-vs-index incremental SimHash returns exactly the
    full-corpus near-dup pairs that cross the batch/index boundary —
    no batch-batch or index-index pairs, none missed."""
    from providenciasbigdata_spark.io import load_table
    from providenciasbigdata_spark.operators import dedup

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    fps = dedup.simhash(docs).cache()
    split = 250
    # the SimHash family is past v1, so the index side must carry the
    # build-time family stamp (unstamped => pre-bump hazard, raises)
    index = dedup.stamp_family(
        fps.filter(F.col("id") < split), dedup.SIMHASH_FAMILY
    )
    batch = fps.filter(F.col("id") >= split)
    inc = {
        (r.batch_id, r.index_id, r.hamming)
        for r in dedup.simhash_incremental(batch, index, max_hamming=3).collect()
    }
    full = dedup.simhash_near_dups(fps, max_hamming=3).collect()
    cross = {
        (max(r.left_id, r.right_id), min(r.left_id, r.right_id), r.hamming)
        for r in full
        if (r.left_id < split) != (r.right_id < split)
    }
    assert inc == cross
    assert all(b >= split > i for b, i, _ in inc)
    fps.unpersist()


def test_dup_span_stats_semantics(spark):
    """Hand-checkable corpus, n=2: doc 30/31 share 'uno dos tres'
    (duplicated bigrams 'uno dos' + 'dos tres' -> 3 covered tokens);
    doc 32 repeats a bigram WITHIN itself (intra-doc counts toward
    min_count); doc 33 is unique; doc 34 is empty."""
    docs = spark.createDataFrame(
        [
            (30, "uno dos tres cuatro"),
            (31, "cinco uno dos tres"),
            (32, "seis siete seis siete ocho"),
            (33, "nueve diez once"),
            (34, ""),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r.asDict()
        for r in dedup.dup_span_stats(docs, n=2, hash_grams=False).collect()
    }
    assert out[30]["n_dup_spans"] == 2 and out[30]["n_covered_tokens"] == 3
    assert out[31]["n_dup_spans"] == 2 and out[31]["n_covered_tokens"] == 3
    # 'seis siete' occurs twice inside doc 32 (positions 0 and 2):
    # spans at 0 and 2 cover tokens {0,1,2,3}
    assert out[32]["n_dup_spans"] == 2 and out[32]["n_covered_tokens"] == 4
    assert out[33]["n_dup_spans"] == 0 and out[33]["n_covered_tokens"] == 0
    assert out[34]["n_tokens"] == 0 and out[34]["dup_coverage_ratio"] == 0.0
    # hashed-key scale path agrees with the string-keyed exact path
    hashed = {
        r["doc_id"]: r.asDict()
        for r in dedup.dup_span_stats(docs, n=2, hash_grams=True).collect()
    }
    assert hashed == out


# ---- paragraph-level dedup + rewrite ------------------------------------

def test_dedup_paragraphs_first_occurrence_and_rewrite(spark):
    from providenciasbigdata_spark.operators.dedup import dedup_paragraphs

    p1 = " ".join(f"a{i}" for i in range(20))
    p2 = " ".join(f"b{i}" for i in range(20))
    p3 = " ".join(f"c{i}" for i in range(20))
    docs = spark.createDataFrame(
        [
            (1, f"{p1} {p2}"),     # defines p1, p2
            (2, f"{p2} {p3}"),     # p2 duplicated -> dropped, keeps p3
            (3, f"{p1} {p2}"),     # fully duplicated -> empty rewrite
            (4, ""),               # empty doc survives with 0 chunks
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in dedup_paragraphs(docs, chunk_tokens=20).collect()}
    assert out[1].new_text == f"{p1} {p2}" and out[1].kept_chunks == 2
    assert out[2].new_text == p3 and out[2].kept_chunks == 1
    assert out[3].new_text == "" and out[3].kept_chunks == 0 and out[3].n_chunks == 2
    assert out[4].new_text == "" and out[4].n_chunks == 0


def test_dedup_paragraphs_each_distinct_chunk_kept_exactly_once(spark, sf_dir):
    from providenciasbigdata_spark.io import load_table
    from providenciasbigdata_spark.operators.dedup import dedup_paragraphs
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents")
    out = dedup_paragraphs(docs, chunk_tokens=20)
    # total surviving chunks == number of DISTINCT paragraphs in the corpus
    kept_total = out.agg(F.sum("kept_chunks")).first()[0]
    from providenciasbigdata_spark.compat.documents import tokenize

    toks = docs.select(tokenize(F.col("text")).alias("t")).filter(F.size("t") > 0)
    distinct_chunks = (
        toks.select(
            F.explode(
                F.transform(
                    F.sequence(
                        F.lit(0).cast("long"),
                        F.ceil(F.size("t") / 20).cast("long") - 1,
                    ),
                    lambda i: F.array_join(
                        F.slice(F.col("t"), (i * 20 + 1).cast("int"), 20), " "
                    ),
                )
            ).alias("chunk")
        )
        .distinct()
        .count()
    )
    assert kept_total == distinct_chunks


def test_dedup_paragraphs_hash_path_equals_string_path(spark, sf_dir):
    from providenciasbigdata_spark.io import load_table
    from providenciasbigdata_spark.operators.dedup import dedup_paragraphs

    docs = load_table(spark, sf_dir, "documents").limit(200)
    a = sorted(dedup_paragraphs(docs, chunk_tokens=20).collect())
    b = sorted(dedup_paragraphs(docs, chunk_tokens=20, hash_chunks=True).collect())
    assert a == b


def test_dedup_paragraphs_incremental_semantics(spark):
    from providenciasbigdata_spark.operators.dedup import (
        dedup_paragraphs_incremental,
        paragraph_index,
    )

    p1 = " ".join(f"a{i}" for i in range(20))
    p2 = " ".join(f"b{i}" for i in range(20))
    p3 = " ".join(f"c{i}" for i in range(20))
    history = spark.createDataFrame([(1, f"{p1}")], "doc_id long, text string")
    batch = spark.createDataFrame(
        [(10, f"{p1} {p2}"),    # p1 already indexed -> dropped; p2 fresh
         (11, f"{p2} {p3}")],   # p2 loses to doc 10 (batch-first); p3 fresh
        "doc_id long, text string",
    )
    idx = paragraph_index(history)
    out = {r.doc_id: r for r in dedup_paragraphs_incremental(batch, idx).collect()}
    assert out[10].new_text == p2 and out[10].kept_chunks == 1
    assert out[11].new_text == p3 and out[11].kept_chunks == 1
    # full-rewrite consistency: history + batch through the batch op ==
    # batch through the incremental op, for batch docs
    from providenciasbigdata_spark.operators.dedup import dedup_paragraphs

    full = {
        r.doc_id: r
        for r in dedup_paragraphs(history.union(batch)).collect()
        if r.doc_id >= 10
    }
    assert {k: (v.kept_chunks, v.new_text) for k, v in out.items()} == {
        k: (v.kept_chunks, v.new_text) for k, v in full.items()
    }


def test_dedup_paragraphs_within_doc_scope(spark):
    """In-doc repetition collapses; the SAME paragraph in another
    document is untouched (cross-doc dedup is a different op)."""
    para = " ".join(f"w{i}" for i in range(20))  # exactly one 20-token chunk
    other = " ".join(f"x{i}" for i in range(20))
    rows = [
        (1, f"{para} {para} {other}"),  # repeated chunk inside doc 1
        (2, para),                       # same chunk, different doc
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in dedup.dedup_paragraphs_within_doc(df).collect()}
    assert (got[1].n_chunks, got[1].kept_chunks) == (3, 2)
    assert got[1].new_text == f"{para} {other}"
    assert (got[2].n_chunks, got[2].kept_chunks) == (1, 1)
    assert got[2].new_text == para  # untouched despite doc 1's copy


def test_jaccard_join_prefix_equals_allpairs(spark, sf_dir):
    """Prefix-filtered exact similarity join == the all-pairs kernel
    at the same threshold (exactness is the point — no recall loss),
    and the plan contains NO cartesian/nested-loop join: candidates
    come from the prefix-token equi-join only."""
    from providenciasbigdata_spark.operators import dedup

    docs = load_table(spark, sf_dir, "documents")
    got = dedup.jaccard_join_prefix(docs, threshold=0.5)
    brute = dedup.jaccard_pairs(docs, ngram=1, threshold=0.5)
    g = {(r.left_id, r.right_id): r.jaccard for r in got.collect()}
    w = {(r.left_id, r.right_id): r.jaccard for r in brute.collect()}
    assert g == w and len(g) > 0

    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan

    # higher threshold -> subset, still equal to brute
    got9 = {
        (r.left_id, r.right_id)
        for r in dedup.jaccard_join_prefix(docs, threshold=0.9).collect()
    }
    w9 = {
        (r.left_id, r.right_id)
        for r in dedup.jaccard_pairs(docs, ngram=1, threshold=0.9).collect()
    }
    assert got9 == w9
    assert set(got9) <= set(g)


def test_jaccard_prefix_salted_skew(spark):
    """verdict-r5 item 6: a near-duplicate-heavy corpus (one hot
    paragraph duplicated 200x) concentrates the candidate key on one
    prefix token. Pins: (a) jaccard_prefix_skew DIAGNOSES it (max_n =
    the duplicate count, skew_ratio >> 1); (b) salted candidate join
    output is IDENTICAL to unsalted and to the all-pairs kernel;
    (c) measured spread — with salt, the hot key's candidate build is
    split across partitions, bounding the max per-partition share."""
    from providenciasbigdata_spark.operators import dedup

    hot = "the quick brown fox jumps over the lazy dog again and again"
    rows = [(i, hot) for i in range(200)]
    rows += [(1000 + i, f"unique document number {i} with its own words {i * 7}")
             for i in range(50)]
    docs = spark.createDataFrame(rows, "doc_id long, text string").repartition(16)

    # (a) diagnosis: the hot token carries one prefix row per copy
    rep = dedup.jaccard_prefix_skew(docs, threshold=0.9).first()
    assert rep.max_n >= 200, rep
    assert rep.skew_ratio > 10, rep

    # (b) identical output: salted == unsalted == all-pairs
    plain = {
        (r.left_id, r.right_id, r.jaccard)
        for r in dedup.jaccard_join_prefix(docs, threshold=0.9).collect()
    }
    salted = {
        (r.left_id, r.right_id, r.jaccard)
        for r in dedup.jaccard_join_prefix(docs, threshold=0.9, salt=8).collect()
    }
    brute = {
        (r.left_id, r.right_id, r.jaccard)
        for r in dedup.jaccard_pairs(docs, ngram=1, threshold=0.9).collect()
    }
    assert salted == plain == brute
    assert len(salted) == 200 * 199 // 2  # every hot pair is TRUE output

    # (c) measured spread of the candidate-build: group the salted
    # join keys by their shuffle assignment — no single reducer may
    # own more than ~(1/salt + slack) of the hot key's rows
    prefixes = dedup._jaccard_prefix_rows(docs, "doc_id", "text", 1, 0.9)
    hot_tok = prefixes.groupBy("tok").count().orderBy(F.desc("count")).first().tok
    salted_keys = (
        prefixes.filter(F.col("tok") == hot_tok)
        .withColumn(
            "__salt", F.pmod(F.xxhash64(F.col("id").cast("string")), F.lit(8))
        )
        .groupBy("__salt")
        .count()
        .collect()
    )
    counts = [r["count"] for r in salted_keys]
    assert len(counts) == 8  # all 8 splits materialize
    assert max(counts) <= sum(counts) * (1 / 8 + 0.15), counts

    with pytest.raises(ValueError, match="salt"):
        dedup.jaccard_join_prefix(docs, threshold=0.9, salt=0)


def test_containment_join_prefix(spark):
    """Round 9: asymmetric near-containment. A quote wrapped in a
    larger page has high containment (quote side) but low Jaccard —
    pins the direction, the exact value, the asymmetry, the plan
    (no cartesian), and brute-force equality."""
    from providenciasbigdata_spark.operators import dedup

    quote = "alpha bravo charlie delta echo foxtrot golf hotel"
    wrapper = (
        "intro words here " + quote + " and a long closing trailer with "
        "many extra unique tokens one two three four five six seven"
    )
    docs = spark.createDataFrame(
        [(1, quote), (2, wrapper), (3, "completely unrelated text body")],
        "doc_id long, text string",
    )
    out = dedup.containment_join_prefix(docs, ngram=1, threshold=0.9)
    rows = {(r.inner_id, r.outer_id): r.containment for r in out.collect()}
    # quote fully inside wrapper: containment(1 -> 2) = 1.0; never 2 -> 1
    assert rows == {(1, 2): 1.0}

    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan

    # brute-force equality on the fixture corpus at a workable threshold
    fix = load_table(spark, "/root/testdata/sf0.001", "documents")
    got = {
        (r.inner_id, r.outer_id): r.containment
        for r in dedup.containment_join_prefix(
            fix, ngram=2, threshold=0.5
        ).collect()
    }
    # brute force via the same set builder
    from providenciasbigdata_spark.functions.text import shingles, tokenize
    from pyspark.sql import functions as F

    sets = fix.select(
        "doc_id",
        F.array_distinct(shingles(tokenize(F.col("text")), 2)).alias("st"),
    )
    a = sets.select(F.col("doc_id").alias("inner_id"), F.col("st").alias("sa"))
    b = sets.select(F.col("doc_id").alias("outer_id"), F.col("st").alias("sb"))
    inter = F.size(F.array_intersect("sa", "sb")).cast("double")
    cont = F.round(inter / F.greatest(F.size("sa").cast("double"), F.lit(1.0)), 6)
    brute = (
        a.crossJoin(b)
        .filter(F.col("inner_id") != F.col("outer_id"))
        .select("inner_id", "outer_id", cont.alias("containment"))
        .filter(F.col("containment") >= 0.5)
    )
    want = {(r.inner_id, r.outer_id): r.containment for r in brute.collect()}
    assert got == want


def test_broadcast_verify_knob(spark):
    """Round 10: broadcast_verify turns both verify joins into
    broadcast-hash joins (plan-pinned) with IDENTICAL output to the
    default sort-merge plan, for both prefix joins."""
    from providenciasbigdata_spark.operators import dedup

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")

    for fn, key in (
        (dedup.containment_join_prefix, ("inner_id", "outer_id", "containment")),
        (dedup.jaccard_join_prefix, ("left_id", "right_id", "jaccard")),
    ):
        plain = fn(docs, ngram=2, threshold=0.5)
        bcast = fn(docs, ngram=2, threshold=0.5, broadcast_verify=True)
        plan = bcast._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan
        got_p = {tuple(getattr(r, c) for c in key) for r in plain.collect()}
        got_b = {tuple(getattr(r, c) for c in key) for r in bcast.collect()}
        assert got_p == got_b and got_p  # identical, non-trivial


def test_fingerprint_family_versioning(spark, sf_dir):
    """Stamped indexes from the CURRENT hash family pass (stamp column
    dropped transparently); a stale/foreign family raises at plan-build
    time. Unstamped indexes pass only for v1 families (nothing predates
    v1); for a family past v1 — SimHash after the r11 v1->v2 hash bump —
    an unstamped index IS the pre-bump hazard and raises (ADVICE r12)."""
    import pytest

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    from providenciasbigdata_spark.functions.text import content_fingerprint

    index = docs.filter(F.col("doc_id") < 20).select(
        content_fingerprint(F.col("text")).alias("content_hash")
    ).distinct()
    batch = docs.filter(F.col("doc_id") < 30)

    # current family: passes, identical result to unstamped
    good = dedup.stamp_family(index, dedup.EXACT_FAMILY)
    out = dedup.dedup_exact_incremental(batch, good)
    assert {r.doc_id for r in out.collect()} == set(range(20, 30))

    # stale family (pre-r11 SimHash tag shape): raises loudly
    stale = dedup.stamp_family(index, "exact/md5-content/v0")
    with pytest.raises(ValueError, match="fingerprint index family"):
        dedup.dedup_exact_incremental(batch, stale)

    # simhash reader checks its own family
    fps = dedup.simhash(docs.filter(F.col("doc_id") < 10))
    stale_fps = dedup.stamp_family(fps, "simhash/blake2b/v1")
    with pytest.raises(ValueError, match="fingerprint index family"):
        dedup.simhash_incremental(fps, stale_fps).collect()
    # UNSTAMPED SimHash index: the family is past v1, so the lenient
    # path would wave through exactly the pre-bump (v1) indexes the
    # guard exists for — strict rejection with a restamp hint
    with pytest.raises(ValueError, match="no 'fingerprint_family' stamp"):
        dedup.simhash_incremental(fps, fps)
    ok = dedup.simhash_incremental(
        fps, dedup.stamp_family(fps, dedup.SIMHASH_FAMILY), max_hamming=0
    )
    assert ok.count() >= 10  # every doc matches itself at hamming 0
    # v1 families still accept unstamped indexes: nothing predates v1
    assert dedup.check_family(index, dedup.EXACT_FAMILY) is index


def test_oph_densification_matches_two_pass_reference(spark):
    """Round-13 optimization pin: the single-pass seeded-carry
    densification in _signature_from_sets must reproduce the original
    two-circular-pass formulation BIT-FOR-BIT (signatures feed LSH
    bands — any densification drift silently changes candidate sets).
    The reference implementation is inlined here exactly as it stood
    before the refactor."""
    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    sets = dedup.shingle_hash_sets(docs, "doc_id", "text", 3)
    k = 16  # small k still exercises empty buckets + wraparound

    exploded = sets.select("id", F.explode("__set").alias("g")).select(
        "id", F.xxhash64("g").alias("h")
    )
    withb = exploded.select(
        "id", F.pmod("h", F.lit(k)).cast("int").alias("b"), "h"
    )
    bm = (
        withb.groupBy("id")
        .agg(*[F.min(F.when(F.col("b") == i, F.col("h"))).alias(f"m{i}") for i in range(k)])
        .select("id", F.array(*[f"m{i}" for i in range(k)]).alias("bm"))
    )

    def _lookup(i):
        return F.try_element_at("bm", (F.pmod(i, F.lit(k)) + F.lit(1)).cast("int"))

    two_pass = F.aggregate(
        F.sequence(F.lit(0), F.lit(2 * k - 1)),
        F.struct(
            F.array().cast("array<bigint>").alias("arr"),
            F.lit(None).cast("bigint").alias("carry"),
        ),
        lambda acc, i: F.struct(
            F.concat(
                acc["arr"], F.array(F.coalesce(_lookup(i), acc["carry"]))
            ).alias("arr"),
            F.coalesce(_lookup(i), acc["carry"]).alias("carry"),
        ),
        lambda acc: F.slice(acc["arr"], k + 1, k),
    )
    ref = bm.select("id", two_pass.alias("sig"))
    got = dedup._signature_from_sets(sets, k)
    assert got.exceptAll(ref).count() == 0
    assert ref.exceptAll(got).count() == 0
    assert got.filter(F.size("sig") != k).count() == 0


def test_cross_contamination_best_match_tiebreak(spark):
    """Round-13 optimization pin: minhash_cross_contamination's
    best-match now comes from one window rank — ties at the max
    jaccard must still resolve to the LOWEST bench id, and exactly one
    row per contaminated corpus doc survives."""
    text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    corpus = spark.createDataFrame([(10, text)], "doc_id long, text string")
    bench = spark.createDataFrame(
        [(1, text), (2, text), (3, "unrelated words only here nothing shared")],
        "doc_id long, text string",
    )
    out = dedup.minhash_cross_contamination(
        corpus, bench, threshold=0.5, bands=8, rows_per_band=2, ngram=2
    ).collect()
    assert len(out) == 1
    assert (out[0].doc_id, out[0].bench_id) == (10, 1)
    assert out[0].jaccard == 1.0


def test_signature_arrow_matches_jvm(spark):
    """Round-14 optimization pin: the mapInArrow OPH kernel (numpy
    xxhash64 replay + vectorized bucket-min + densification) must equal
    the pure-Catalyst formulation BIT-FOR-BIT — signatures feed LSH
    bands, so any drift silently changes candidate sets. k=64 is the
    production width; k=7 exercises a non-power-of-two pmod."""
    import numpy as np

    # the numpy xxhash64 replay vs Spark's expression on edge-case longs
    probe = spark.range(-5, 6).select(
        F.col("id").alias("v"), F.xxhash64(F.col("id")).alias("h")
    ).union(
        spark.createDataFrame(
            [(2**63 - 1,), (-(2**63),), (123456789123456789,)], "v long"
        ).select("v", F.xxhash64("v").alias("h"))
    )
    rows = probe.collect()
    vs = np.array([r["v"] for r in rows], dtype=np.int64)
    hs = np.array([r["h"] for r in rows], dtype=np.int64)
    assert (dedup._xxh64_long_np(vs) == hs).all()

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    sets = dedup.shingle_hash_sets(docs, "doc_id", "text", 3)
    for k in (64, 7):
        arrow = dedup._signature_from_sets(sets, k, impl="arrow")
        jvm = dedup._signature_from_sets(sets, k, impl="jvm")
        assert arrow.exceptAll(jvm).count() == 0
        assert jvm.exceptAll(arrow).count() == 0
        assert arrow.filter(F.size("sig") != k).count() == 0


def test_signature_arrow_matches_jvm_on_null_elements(spark):
    """A null inside a set hashes as xxhash64(null) on both paths; a
    set that is only a null still gets a signature."""
    sets = spark.createDataFrame(
        [(1, [3, None, 7]), (2, [None]), (3, [5, 9]), (4, None), (5, [])],
        "id long, __set array<long>",
    )
    for k in (64, 7):
        arrow = dedup._signature_from_sets(sets, k, impl="arrow")
        jvm = dedup._signature_from_sets(sets, k, impl="jvm")
        assert arrow.exceptAll(jvm).count() == 0
        assert jvm.exceptAll(arrow).count() == 0
        assert sorted(r.id for r in arrow.collect()) == [1, 2, 3]


def test_operator_persist_release(spark, distributed):
    """Round-14 (verdict-r13 item 5): operators that persist an
    intermediate attach it to the returned frame; dedup.release(df)
    after the caller's action leaves NO live cached RDDs behind."""
    docs = load_table(spark, "/root/testdata/sf0.001", "documents").filter(
        F.col("doc_id") < 120
    )
    sc = spark.sparkContext
    before = set(sc._jsc.getPersistentRDDs().keys())

    def minhash_plan():  # MinHash persists only above its driver gate
        with distributed():
            return dedup.minhash_near_dups(docs)

    for build in (
        minhash_plan,
        lambda: dedup.minhash_near_dups_estimated(docs),
        lambda: dedup.containment_join_prefix(docs, threshold=0.8),
        lambda: dedup.dup_span_stats(docs, n=3),
        lambda: dedup.minhash_cross_contamination(
            docs, docs.filter(F.col("doc_id") < 20)
        ),
    ):
        out = build()
        out.write.format("noop").mode("overwrite").save()
        assert getattr(out, "_pbd_persisted", ()), "operator should track its persists"
        dedup.release(out)
        leaked = set(sc._jsc.getPersistentRDDs().keys()) - before
        assert not leaked, f"cached RDDs leaked after release: {leaked}"


def test_minhash_below_its_gate_persists_nothing(spark, sf_dir, count_jobs):
    """Below ``dedup._DRIVER_MAX_ROWS`` one collect feeds the driver
    build: the whole call and its collect run one Spark job, and no RDD
    stays persisted, so ``release`` has nothing to free."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < 120
    )
    sc = spark.sparkContext
    before = set(sc._jsc.getPersistentRDDs().keys())

    def build_and_collect():
        out = dedup.minhash_near_dups(docs)
        return out, out.collect()

    (out, rows), jobs = count_jobs(build_and_collect)
    assert jobs == 1 and not getattr(out, "_pbd_persisted", ())
    assert set(sc._jsc.getPersistentRDDs().keys()) <= before
    assert rows and all(r.left_id < r.right_id for r in rows)
