"""Similarity search over embedding columns (SURVEY.md C-X2/C-X3/C-X4).

- ``brute_force_topk``     exact cosine top-k for one query vector —
                           map + TakeOrdered, no shuffle of the corpus.
- ``topk_per_query``       exact top-k for a (small) query set —
                           broadcast the queries, window per query id.
- ``srp_lsh_pairs``        signed-random-projection LSH bucketing — the
                           approximate scale path: candidates from
                           equi-joins on (table, bucket), O(n*t).
- ``srp_lsh_topk``         ANN top-k via SRP buckets + exact re-rank of
                           candidates.
- ``ml_minhash_join``      optional pyspark.ml wrapper (import-gated).

The exact cosine of these operators is a Catalyst expression
(compat.graph.cosine): it runs in the JVM, and a zero norm gives null.
The engine's edge reads, anchored and full, compute the same cosine
with a numpy kernel (compat.graph.cosine100_pairs) over a vector block
collected once per embeddings version, when that version has at most
``_DRIVER_MAX_ROWS`` rows; above that size they stay on the Catalyst
plan. The Lloyd trainers iterate on the driver below the same gate,
which ``session.collect_below`` decides as it collects. The SRP
hyperplanes are deterministic (numpy PCG64 with a literal seed) and
shipped as array literals, not a UDF closure.

Scale notes: for a 100TB corpus the brute-force path is a single scan
(fine for one-off queries); the SRP path buckets the corpus once
(write-once, reused per query) and each query probes ``tables``
buckets — the standard IVF/LSH trade: recall vs probes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from providenciasbigdata_spark.compat.graph import cosine
from providenciasbigdata_spark.session import collect_below, local_frame


def _vec_lit(vec) -> "F.Column":
    return F.array(*[F.lit(float(x)) for x in vec])


def brute_force_topk(
    embeddings: DataFrame,
    query_vec,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """Exact cosine top-k against a literal query vector.

    Plan shape: parquet scan -> project cosine -> TakeOrderedAndProject
    (per-partition heaps, no global sort, no shuffle of the corpus).
    Ordering is (rounded score desc, id asc) — total, so deterministic.
    """
    score = F.round(cosine(F.col(vec_col), _vec_lit(query_vec)), round_digits)
    return (
        embeddings.select(F.col(id_col), score.alias("score"))
        .orderBy(F.desc("score"), F.asc(id_col))
        .limit(k)
    )


def topk_per_query(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    round_digits: int = 6,
) -> DataFrame:
    """Exact top-k neighbors for each query row (batch ANN baseline).

    The query set is broadcast (it must be small — thousands, not
    millions); the corpus streams through a broadcast nested-loop join
    and a per-query-id window takes the top k. Corpus is scanned once
    regardless of query count.
    """
    from providenciasbigdata_spark.compat.graph import dot, l2_norm

    # norms once per side; each (corpus x query) pair costs one dot fold
    corpus = embeddings.select(
        F.col(id_col), F.col(vec_col), l2_norm(F.col(vec_col)).alias("__nc")
    )
    qs = queries.select(
        F.col(query_id_col), F.col(query_vec_col),
        l2_norm(F.col(query_vec_col)).alias("__nq"),
    )
    pairs = corpus.join(F.broadcast(qs))
    cos = dot(
        F.transform(vec_col, lambda x: x.cast("double")),
        F.transform(query_vec_col, lambda x: x.cast("double")),
    ) / (F.col("__nc") * F.col("__nq"))
    score = F.round(cos, round_digits)
    scored = pairs.select(
        F.col(query_id_col), F.col(id_col), score.alias("score")
    ).filter(F.col(query_id_col) != F.col(id_col))
    w = Window.partitionBy(query_id_col).orderBy(F.desc("score"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


def mmr_rerank(
    candidates: DataFrame,
    k: int = 10,
    lam: float = 0.7,
    query_id_col: str = "query_id",
    id_col: str = "vec_id",
    score_col: str = "score",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (round 9, Carbonell &
    Goldstein SIGIR'98): from each query's candidate pool, greedily
    pick ``k`` items maximizing ``lam*rel(d) − (1−lam)*max_{s∈S}
    cos(d, s)`` — relevance traded against redundancy with what's
    already selected, the standard diversity pass between ANN
    retrieval and a RAG/training-sampler consumer.

    The selection is inherently sequential PER QUERY but embarrassingly
    parallel ACROSS queries, so it runs as ``applyInPandas`` over the
    query groups: each group is candidate-pool-sized (the top-N of a
    preceding ANN stage — tens to hundreds of rows), the numpy kernel
    normalizes once and keeps a running max-similarity vector (O(N·k)
    dots on a ≤N×dim matrix; never corpus-sized). Deterministic:
    ties break on ascending id. Output: (query_id, rank 1-based,
    vec_id, score, mmr) — the ``mmr`` column is ``lam*rel −
    (1−lam)*maxsim`` at selection time on every rank INCLUDING rank 1
    (where maxsim is 0 by convention, so mmr = lam*rel — one scale
    across the whole list; advice-r9)."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if not 0.0 <= lam <= 1.0:
        raise ValueError(f"lam must be in [0, 1], got {lam}")
    import pandas as pd  # noqa: F401 - applyInPandas contract

    schema = (
        f"{query_id_col} long, rank long, {id_col} long, "
        f"{score_col} double, mmr double"
    )

    def pick(pdf):
        import numpy as np
        import pandas as pd

        # deterministic candidate order: relevance desc, id asc
        pdf = pdf.sort_values(
            [score_col, id_col], ascending=[False, True]
        ).reset_index(drop=True)
        mat = np.asarray(list(pdf[vec_col]), dtype=np.float64)
        norms = np.linalg.norm(mat, axis=1)
        norms[norms == 0.0] = 1.0
        unit = mat / norms[:, None]
        rel = pdf[score_col].to_numpy(dtype=np.float64)
        n = len(pdf)
        kk = min(k, n)
        selected: list[int] = []
        max_sim = np.full(n, -np.inf)
        chosen = np.zeros(n, dtype=bool)
        mmr_vals = []
        for _ in range(kk):
            if not selected:
                # rank-1 pick: the maxsim term is constant (-inf clamp
                # aside there is no selected set), so argmax(rel) is
                # the MMR argmax; the recorded value is lam*rel so the
                # mmr column is ONE scale across all ranks (advice-r9:
                # emitting raw rel here mixed two scales per list)
                gain = rel.copy()
                emit = lam * rel
            else:
                gain = lam * rel - (1.0 - lam) * max_sim
                emit = gain
            gain[chosen] = -np.inf
            i = int(np.argmax(gain))  # argmax keeps the FIRST max: id-asc tiebreak
            selected.append(i)
            chosen[i] = True
            mmr_vals.append(float(round(emit[i], 6)))
            sims = unit @ unit[i]
            max_sim = np.maximum(max_sim, sims)
        out = pdf.iloc[selected]
        return pd.DataFrame({
            query_id_col: out[query_id_col].to_numpy(),
            "rank": np.arange(1, kk + 1, dtype="int64"),
            id_col: out[id_col].to_numpy(),
            score_col: out[score_col].to_numpy(),
            "mmr": mmr_vals,
        })

    return (
        candidates.select(query_id_col, id_col, score_col, vec_col)
        .groupBy(query_id_col)
        .applyInPandas(pick, schema)
    )


def srp_planes(dim: int, n_bits: int, tables: int, seed: int = 42):
    """Deterministic signed-random-projection hyperplanes:
    ``tables`` x ``n_bits`` x ``dim`` (numpy, literal seed)."""
    import numpy as np

    rng = np.random.Generator(np.random.PCG64(seed))
    return rng.standard_normal((tables, n_bits, dim))


def srp_buckets(
    embeddings: DataFrame,
    dim: int,
    n_bits: int = 12,
    tables: int = 4,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign each vector a bucket per hash table: bucket = sign-bit
    pattern of ``n_bits`` random projections. Pure expressions — the
    planes enter the plan as array literals; dot products are
    zip_with/aggregate folds.

    Output: (id, table, bucket) — one row per (vector, table).
    """
    planes = srp_planes(dim, n_bits, tables, seed)
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    rows = []
    for t in range(tables):
        bits = []
        for b in range(n_bits):
            dot = F.aggregate(
                F.zip_with(v, _vec_lit(planes[t, b]), lambda x, y: x * y),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            bits.append(F.when(dot >= 0, F.lit(1 << b)).otherwise(F.lit(0)))
        bucket = bits[0]
        for bit in bits[1:]:
            bucket = bucket + bit
        rows.append(
            F.struct(F.lit(t).alias("table"), bucket.cast("long").alias("bucket"))
        )
    return embeddings.select(
        F.col(id_col).alias("id"), F.explode(F.array(*rows)).alias("tb")
    ).select("id", "tb.table", "tb.bucket")


def srp_lsh_pairs(
    embeddings: DataFrame,
    dim: int,
    n_bits: int = 12,
    tables: int = 4,
    seed: int = 42,
    id_col: str = "vec_id",
) -> DataFrame:
    """Candidate near-neighbor pairs: vectors sharing a bucket in ANY
    table. Equi-join on (table, bucket) -> O(n*tables) shuffle."""
    b = srp_buckets(embeddings, dim, n_bits, tables, seed, id_col=id_col)
    l, r = b.alias("l"), b.alias("r")
    return (
        l.join(
            r,
            (F.col("l.table") == F.col("r.table"))
            & (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(F.col("l.id").alias("left_id"), F.col("r.id").alias("right_id"))
        .distinct()
    )


def srp_lsh_topk(
    embeddings: DataFrame,
    query_vec,
    dim: int,
    k: int = 10,
    n_bits: int = 10,
    tables: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """ANN top-k: probe the query's bucket in each table, exact-rank
    the union of candidates. Recall grows with ``tables`` and shrinks
    with ``n_bits``; both are per-query knobs, corpus bucketing is
    reusable."""
    import numpy as np

    planes = srp_planes(dim, n_bits, tables, seed)
    q = np.asarray(list(query_vec), dtype=np.float64)
    buckets = []
    for t in range(tables):
        bits = (planes[t] @ q >= 0).astype(np.int64)
        buckets.append((t, int((bits << np.arange(n_bits)).sum())))
    corpus_b = srp_buckets(embeddings, dim, n_bits, tables, seed, id_col=id_col, vec_col=vec_col)
    probe = local_frame(corpus_b.sparkSession, buckets, "table int, bucket long")
    cand_ids = corpus_b.join(F.broadcast(probe), ["table", "bucket"]).select("id").distinct()
    cands = embeddings.join(cand_ids, embeddings[id_col] == cand_ids.id, "left_semi")
    score = F.round(cosine(F.col(vec_col), _vec_lit(q)), round_digits)
    return (
        cands.select(F.col(id_col), score.alias("score"))
        .orderBy(F.desc("score"), F.asc(id_col))
        .limit(k)
    )


def pairwise_cosine(
    embeddings: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 4,
    scale: float = 1.0,
    broadcast_limit: int = 100_000,
    block_size: int = 4096,
) -> DataFrame:
    """Exact all-pairs cosine >= threshold, size-dispatched.

    While the corpus comfortably fits one broadcast (<= broadcast_limit
    rows; 100k 64-dim float64 vectors ~ 50 MB) take the BLAS broadcast
    matmul — fastest at small n. Beyond that, the tile-blocked fully
    distributed path whose per-task cost is O(block_size^2) regardless
    of corpus size. The decision costs one COUNT(*) scalar aggregate
    (answered from parquet footers, no data read).

    Both branches share the identical output contract (pinned equal in
    tests/test_similarity.py), so callers get the same answer either
    way — only the physical plan changes with scale.

    Dispatch-cost caveat (round 12, ADVICE-r11): the COUNT(*) is
    footer-answered only for a plain table scan. A caller passing a
    DERIVED plan (filter/join upstream) pays a full job for the
    dispatch AND a second execution of that plan inside the chosen
    branch — cache the input first, or skip the dispatcher and call
    pairwise_cosine_matmul / pairwise_cosine_blocked directly when the
    size class is known.
    """
    n = embeddings.count()
    if n <= broadcast_limit:
        return pairwise_cosine_matmul(
            embeddings, threshold, id_col, vec_col, round_digits, scale
        )
    return pairwise_cosine_blocked(
        embeddings, threshold, id_col, vec_col, round_digits, scale,
        block_size=block_size,
    )


def pairwise_cosine_matmul(
    embeddings: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 4,
    scale: float = 1.0,
) -> DataFrame:
    """Exact all-pairs cosine >= threshold via blocked matrix multiply.

    The corpus is L2-normalized into one numpy matrix and BROADCAST;
    each Arrow batch of left rows computes a (batch x n) BLAS matmul
    and emits only the thresholded pairs. ~10^3 x faster per pair than
    interpreted expression folds — this is the "built-ins genuinely
    can't express it efficiently" case for the Pandas path.

    The broadcast side must fit in executor memory (same constraint as
    any broadcast join; ~1 GB per million 64-dim float64 vectors). For
    corpora beyond that, feed column-blocks of the corpus through this
    repeatedly, or switch to srp_lsh_pairs (approximate).

    Output: (left_id, right_id, cosine) for ALL ordered pairs
    left_id != right_id with round(cosine*scale) >= threshold.
    """
    import numpy as np
    import pandas as pd

    pdf = embeddings.select(id_col, vec_col).toPandas()
    ids = pdf[id_col].to_numpy()
    M = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
    Mn = M / np.linalg.norm(M, axis=1, keepdims=True)
    bc = embeddings.sparkSession.sparkContext.broadcast((ids, Mn))

    def op(batches):
        ids_r, Mn_r = bc.value
        for b in batches:
            li = b[id_col].to_numpy()
            A = np.vstack(b[vec_col].to_numpy()).astype(np.float64)
            An = A / np.linalg.norm(A, axis=1, keepdims=True)
            S = np.round(An @ Mn_r.T * scale, round_digits)
            mask = S >= threshold
            mask &= li[:, None] != ids_r[None, :]
            idx = np.argwhere(mask)
            yield pd.DataFrame(
                {
                    "left_id": li[idx[:, 0]],
                    "right_id": ids_r[idx[:, 1]],
                    "cosine": S[mask],
                }
            )

    return embeddings.select(id_col, vec_col).mapInPandas(
        op, "left_id long, right_id long, cosine double"
    )


def pairwise_cosine_blocked(
    embeddings: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 4,
    scale: float = 1.0,
    n_blocks: int | None = None,
    block_size: int = 4096,
) -> DataFrame:
    """Exact all-pairs cosine >= threshold, fully distributed — the
    beyond-broadcast-memory path that ``pairwise_cosine_matmul`` can't
    take (its corpus matrix lives on the driver then broadcasts whole).

    Block decomposition: hash-assign each vector to one of ``n_blocks``
    blocks, pack each block into a single row (JVM ``collect_list``),
    join the upper triangle of block pairs (bid_a <= bid_b), and BLAS
    each (block x block) tile in a mapInPandas kernel, emitting only
    thresholded pairs. Work and memory per task are O(block_size^2) and
    O(block_size x dim) — independent of corpus size; total compute is
    the same O(n^2) as any exact method but sharded across
    O((n/block_size)^2) independent tasks.

    Off-diagonal tiles are computed once and emitted in both directions
    (S and S^T) — halves the matmul work vs the naive full cross join.

    Output: (left_id, right_id, cosine), all ordered pairs with
    left_id != right_id and round(cosine*scale) >= threshold — identical
    contract to ``pairwise_cosine_matmul``.
    """
    import math

    import numpy as np
    import pandas as pd

    if n_blocks is None:
        n = embeddings.count()
        n_blocks = max(1, math.ceil(n / block_size))

    base = embeddings.select(
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_blocks)).alias("bid"),
        F.col(id_col).alias("id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("vec"),
    )
    blocks = base.groupBy("bid").agg(
        F.collect_list(F.struct("id", "vec")).alias("rows")
    )
    a = blocks.select(F.col("bid").alias("bid_a"), F.col("rows").alias("rows_a"))
    b = blocks.select(F.col("bid").alias("bid_b"), F.col("rows").alias("rows_b"))
    # one tile per partition up to a cap — an uncapped tile count is
    # quadratic in corpus size (24k blocks -> 300M partitions; the
    # scheduler, not the data, becomes the bottleneck). Above the cap
    # each task just processes several tiles sequentially.
    n_tiles = max(n_blocks * (n_blocks + 1) // 2, 1)
    tiles = a.join(b, F.col("bid_a") <= F.col("bid_b")).repartition(
        min(n_tiles, 16384), "bid_a", "bid_b"
    )

    def kernel(batches):
        for pdf in batches:
            for row in pdf.itertuples(index=False):
                ia = np.asarray([r["id"] for r in row.rows_a], dtype=np.int64)
                A = np.vstack([r["vec"] for r in row.rows_a]).astype(np.float64)
                An = A / np.linalg.norm(A, axis=1, keepdims=True)
                diagonal = row.bid_a == row.bid_b
                if diagonal:
                    ib, Bn = ia, An
                else:
                    ib = np.asarray([r["id"] for r in row.rows_b], dtype=np.int64)
                    B = np.vstack([r["vec"] for r in row.rows_b]).astype(np.float64)
                    Bn = B / np.linalg.norm(B, axis=1, keepdims=True)
                S = np.round(An @ Bn.T * scale, round_digits)
                mask = (S >= threshold) & (ia[:, None] != ib[None, :])
                idx = np.argwhere(mask)
                out = {
                    "left_id": ia[idx[:, 0]],
                    "right_id": ib[idx[:, 1]],
                    "cosine": S[idx[:, 0], idx[:, 1]],
                }
                if not diagonal:  # emit the transposed tile too
                    out = {
                        "left_id": np.concatenate([out["left_id"], ib[idx[:, 1]]]),
                        "right_id": np.concatenate([out["right_id"], ia[idx[:, 0]]]),
                        "cosine": np.concatenate([out["cosine"], out["cosine"][: len(idx)]]),
                    }
                yield pd.DataFrame(out)

    return tiles.mapInPandas(kernel, "left_id long, right_id long, cosine double")


def training_sample(
    embeddings: DataFrame, id_col: str, n: int
) -> DataFrame:
    """Deterministic uniform training sample: the ``n`` rows with the
    smallest ``md5(id)`` (the mix.py split device — uniform over ids,
    refresh-stable, engine-agnostic). Lowers to TakeOrdered (one scan,
    no full sort, no shuffle of the corpus): the sample costs one pass
    regardless of corpus size."""
    return (
        embeddings
        .orderBy(F.md5(F.col(id_col).cast("string")), F.col(id_col))
        .limit(int(n))
    )


# Largest (sampled) corpus the Lloyd trainers — ``kmeans_centroids``
# and ``pq_train`` — collect and iterate on the driver, and the largest
# embeddings version the engine holds as a driver-side vector block.
_DRIVER_MAX_ROWS = 50_000


def _vectors(vecs, spherical: bool):
    """Stack embedding arrays into a float64 matrix; ``spherical``
    scales every row to unit norm."""
    import numpy as np

    X = np.vstack([np.asarray(v, dtype=np.float64) for v in vecs])
    return X / np.linalg.norm(X, axis=1, keepdims=True) if spherical else X


def _lloyd_partials(X, C, spherical: bool):
    """One Lloyd assignment of the rows of ``X`` against the
    per-subspace centroids ``C`` [m, k, dim//m]: a (subspace, cluster,
    count, vector sum) tuple per non-empty cluster. ``spherical``
    assigns by cosine (rows and centroids unit-norm), else by L2."""
    import numpy as np

    dsub = C.shape[2]
    out = []
    for s in range(C.shape[0]):
        Xs = X[:, s * dsub : (s + 1) * dsub]
        if spherical:
            a = np.argmax(Xs @ C[s].T, axis=1)
        else:
            # ||x-c||^2 = ||x||^2 - 2xc + ||c||^2; ||x||^2 constant per row
            a = np.argmin(-2 * Xs @ C[s].T + (C[s] ** 2).sum(axis=1)[None, :], axis=1)
        for c in np.unique(a):
            msk = a == c
            out.append((s, int(c), int(msk.sum()), Xs[msk].sum(axis=0)))
    return out


def _spark_lloyd_partials(base: DataFrame, C, spherical: bool, vec_col: str):
    """``_lloyd_partials`` over a distributed corpus: each Arrow batch
    emits one partial row per (subspace, cluster) and the reduce side
    aggregates O(batches x k) tiny rows, never the corpus. The
    centroids are the only data broadcast."""
    import numpy as np
    import pandas as pd

    bc = base.sparkSession.sparkContext.broadcast(C)

    def kernel(batches):
        for b in batches:
            X = _vectors(b[vec_col], spherical)
            parts = _lloyd_partials(X, bc.value, spherical)
            yield pd.DataFrame(
                [(s, c, n, v.tolist()) for s, c, n, v in parts],
                columns=["sub", "cluster", "n", "vsum"],
            )

    agg = (
        base.mapInPandas(kernel, "sub int, cluster int, n long, vsum array<double>")
        .select("sub", "cluster", "n", F.posexplode("vsum").alias("pos", "x"))
        .groupBy("sub", "cluster", "pos")
        .agg(F.sum("n").alias("n"), F.sum("x").alias("sx"))
        .collect()
    )
    bc.destroy()
    sums: dict = {}
    for r in agg:
        # the same cluster total repeats on every pos row
        _, v = sums.setdefault((r.sub, r.cluster), (r.n, np.zeros(C.shape[2])))
        v[r.pos] = r.sx
    return [(s, c, n, v) for (s, c), (n, v) in sums.items()]


def _lloyd(
    embeddings: DataFrame,
    k: int,
    m: int,
    max_iter: int,
    spherical: bool,
    id_col: str,
    vec_col: str,
    train_sample: int | None,
):
    """Lloyd's k-means in ``m`` contiguous subspaces from the ``k``
    lowest-id vectors until no centroid moves by 1e-6 or ``max_iter``
    rounds; returns (C [m, k, dim//m], rounds run).

    Up to ``_DRIVER_MAX_ROWS`` rows (and ``train_sample``) the corpus
    is collected once (id order) and every round runs on the driver.
    Only a larger corpus is counted: above ``train_sample`` rows the
    rounds run on the deterministic md5-top-N sample
    (``training_sample``), collected when it fits the gate. Otherwise
    each round is one distributed pass over the persisted vectors.
    Both paths call ``_lloyd_partials``; only the double-addition order
    of the partial sums differs. Empty clusters keep their centroid."""
    import numpy as np

    ordered = embeddings.select(id_col, vec_col).orderBy(id_col)
    table = collect_below(ordered, min(_DRIVER_MAX_ROWS, train_sample or _DRIVER_MAX_ROWS))
    if table is None and train_sample and embeddings.count() > train_sample:
        embeddings = training_sample(embeddings, id_col, train_sample)
        ordered = embeddings.select(id_col, vec_col).orderBy(id_col)
        table = collect_below(ordered, _DRIVER_MAX_ROWS)
    on_driver = table is not None
    if not on_driver:
        table = ordered.limit(k).toArrow()
    X = _vectors(table[vec_col].to_pylist(), spherical)
    dim = X.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    C = np.stack([X[:k, s * dsub : (s + 1) * dsub] for s in range(m)])
    if on_driver:
        def partials(C):
            return _lloyd_partials(X, C, spherical)
    else:
        # persist: every round rescans the projected vectors
        base = embeddings.select(vec_col).persist()

        def partials(C):
            return _spark_lloyd_partials(base, C, spherical, vec_col)

    rounds = max_iter
    for it in range(max_iter):
        newC = C.copy()
        for s, c, n, vsum in partials(C):
            newC[s, c] = vsum / np.linalg.norm(vsum) if spherical else vsum / n
        shift = float(np.abs(newC - C).max())
        C = newC
        if shift < 1e-6:
            rounds = it + 1
            break
    if not on_driver:
        base.unpersist()
    return C, rounds


def kmeans_centroids(
    embeddings: DataFrame,
    n_clusters: int = 16,
    max_iter: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_sample: int | None = 200_000,
):
    """Lloyd's k-means over the embedding column, spherical variant
    (cosine assignment) — the coarse quantizer for IVF search.

    Distributed the way k-means should be on Spark: each Arrow batch
    assigns its rows to the nearest centroid and emits ONE partial row
    per cluster (count + sum-vector); the reduce side aggregates
    O(batches x k) tiny rows, never the corpus. Centroids (k x dim,
    driver-side numpy) are re-broadcast each iteration — the only data
    that ever leaves the executors.

    Driver finisher (the module's size gate): up to
    ``_DRIVER_MAX_ROWS`` rows the corpus is collected ONCE (<= ~25 MB
    at dim 64) and the SAME Lloyd step runs driver-side — each
    distributed iteration otherwise pays a Python-worker pass +
    exchange + collect of scheduling latency for sub-millisecond math.
    Only double-addition order differs (the distributed reduce was
    never bit-order-deterministic either, and every consumer pins
    results through recall/agreement, not centroid bits).

    Sampled training (round 7, verdict-r6 item 5): above
    ``train_sample`` rows the Lloyd iterations run on a deterministic
    md5-top-N uniform sample (``training_sample``) instead of the full
    corpus — at 100 TB, full-corpus training is ``iters`` complete
    passes for centroids that a 200k-row uniform sample already
    estimates to well under assignment noise; the full corpus is
    touched exactly ONCE afterwards, by ``ivf_assign``. Build cost
    drops from O(corpus)·iters to O(sample)·iters + one full
    assignment pass. Fixtures sit far below the threshold, so every
    existing recall/agreement pin is byte-unchanged; the sampled path
    is pinned by its own tests (deterministic sample, exhaustive-probe
    exactness unchanged).

    Init is deterministic: the ``n_clusters`` lowest-id vectors.

    Returns (centroids: np.ndarray [k x dim], used_iters: int).
    """
    C, rounds = _lloyd(
        embeddings, n_clusters, 1, max_iter, True, id_col, vec_col, train_sample
    )
    return C[0], rounds


def ivf_assign(
    embeddings: DataFrame,
    centroids,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    jvm_max_k: int = 32,
) -> DataFrame:
    """(id, cluster): nearest-centroid (cosine) partition of the corpus
    — the IVF inverted lists. At rest this is what you'd write
    partitioned by ``cluster`` so probes prune file groups.

    Two physical paths, same argmax: for k <= ``jvm_max_k`` the k dot
    products unroll as codegen'd Catalyst folds over literal centroid
    arrays and the argmax is a greatest-chain — NO Python stage at all
    (the "stay JVM-side" rule; small-k coarse quantizers are the
    common case). Larger k switches to the Arrow batch kernel, where
    one BLAS matmul per batch beats k interpreted folds. Tie rule
    matches numpy's argmax (FIRST index wins); the two paths can
    differ only on sub-ulp near-ties (fold vs BLAS summation order) —
    no consumer depends on exact assignment (recall/pruning pins are
    assignment-independent)."""
    import numpy as np
    import pandas as pd

    C = np.asarray(centroids, dtype=np.float64)
    k = len(C)
    if k <= jvm_max_k:
        # the corpus vector's own norm is a positive constant across
        # the k candidates, so raw dot products against the unit-norm
        # centroids (kmeans_centroids normalizes) decide the argmax —
        # no per-row normalization needed
        v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
        dots = [
            F.aggregate(
                F.zip_with(v, _vec_lit(C[c]), lambda x, y: x * y),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            for c in range(k)
        ]
        # argmax via array_position(arr, array_max(arr)): O(k) expression
        # size. A when-chain carrying a running `best` doubles its tree
        # each step (best appears in the condition AND the otherwise) —
        # O(2^k) nodes, measured OOM-ing codegen at k=16.
        arr = F.array(*dots)
        cluster = F.array_position(arr, F.array_max(arr)) - F.lit(1)
        return embeddings.select(
            F.col(id_col).alias("id"), cluster.cast("int").alias("cluster")
        )

    bc = embeddings.sparkSession.sparkContext.broadcast(C)

    def assign(batches):
        Cn = bc.value
        for b in batches:
            X = np.vstack(b[vec_col].to_numpy()).astype(np.float64)
            Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
            yield pd.DataFrame(
                {"id": b[id_col].to_numpy(), "cluster": np.argmax(Xn @ Cn.T, axis=1)}
            )

    return embeddings.select(id_col, vec_col).mapInPandas(
        assign, "id long, cluster int"
    )


def cluster_blocked_pairs(
    embeddings: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 4,
    scale: float = 1.0,
    n_clusters: int = 16,
    kmeans_iter: int = 8,
    row_chunk: int = 4096,
) -> DataFrame:
    """Cluster-blocked near-dup candidate pairs — the canonical SemDeDup
    recipe (Abbas et al. 2023): k-means the corpus first, then compute
    exact cosine only WITHIN each cluster. Total compute drops from
    O(n^2) to O(sum_c n_c^2) ~ O(n^2 / k) for balanced clusters, and
    the quality loss is exactly the cross-cluster pairs — which SemDeDup
    *defines* away (semantic duplicates land in the same cluster by
    construction of the clustering objective).

    Scale shape: centroids are k x dim driver-side numpy (trivial);
    assignment is one Arrow map pass; the per-cluster kernel packs each
    cluster into one row (collect_list) and BLAS-es it in row chunks,
    so score-matrix memory is O(row_chunk x n_c) and the only join in
    the plan is the equi-join of ids to cluster labels — no cartesian,
    no all-pairs tile join. Per-task memory is O(n_c x dim): balanced
    clusters hold n/k rows, so pick n_clusters such that n/k vectors
    fit one task (skew guard: a pathological mega-cluster degrades to
    the exact kernel's cost for that cluster only, never cross-cluster).

    Output: (left_id, right_id, cosine), left_id < right_id, for
    within-cluster pairs with round(cosine*scale) >= threshold. One
    direction only (undirected consumers — connected_components —
    symmetrize internally); precision vs the exact kernel is 1.0 (every
    emitted pair is exact-verified), recall misses only cross-cluster
    pairs (pinned on the fixture in tests/test_similarity.py).
    """
    import numpy as np
    import pandas as pd

    C, _ = kmeans_centroids(
        embeddings, n_clusters=n_clusters, max_iter=kmeans_iter,
        id_col=id_col, vec_col=vec_col,
    )
    assigned = ivf_assign(embeddings, C, id_col, vec_col)
    vecs = embeddings.select(
        F.col(id_col).alias("id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("vec"),
    ).join(assigned, "id")
    packed = vecs.groupBy("cluster").agg(
        F.collect_list(F.struct("id", "vec")).alias("rows")
    )

    def kernel(batches):
        for pdf in batches:
            for row in pdf.itertuples(index=False):
                ids = np.asarray([r["id"] for r in row.rows], dtype=np.int64)
                M = np.vstack([r["vec"] for r in row.rows]).astype(np.float64)
                Mn = M / np.linalg.norm(M, axis=1, keepdims=True)
                n = len(ids)
                for lo in range(0, n, row_chunk):
                    hi = min(lo + row_chunk, n)
                    S = np.round(Mn[lo:hi] @ Mn.T * scale, round_digits)
                    # strict upper triangle in ID order: left < right
                    mask = (S >= threshold) & (ids[lo:hi, None] < ids[None, :])
                    idx = np.argwhere(mask)
                    yield pd.DataFrame(
                        {
                            "left_id": ids[lo + idx[:, 0]],
                            "right_id": ids[idx[:, 1]],
                            "cosine": S[idx[:, 0], idx[:, 1]],
                        }
                    )

    return packed.mapInPandas(kernel, "left_id long, right_id long, cosine double")


def ivf_topk(
    embeddings: DataFrame,
    query_vec,
    centroids,
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """IVF ANN top-k: rank centroids against the query on the driver
    (k_clusters x dim — trivial), probe the ``nprobe`` nearest inverted
    lists, exact-cosine re-rank only those candidates. Recall knob =
    nprobe (probe all clusters => exact). The 100 TB shape: corpus
    pre-assigned and stored partitioned by cluster, so each probe is a
    partition-pruned scan, not a full pass."""
    import numpy as np

    C = np.asarray(centroids, dtype=np.float64)
    q = np.asarray(list(query_vec), dtype=np.float64)
    qn = q / np.linalg.norm(q)
    probes = np.argsort(-(C @ qn))[:nprobe].tolist()
    assigned = ivf_assign(embeddings, C, id_col, vec_col)
    cand_ids = assigned.filter(F.col("cluster").isin(probes)).select("id")
    cands = embeddings.join(
        cand_ids, embeddings[id_col] == cand_ids.id, "left_semi"
    )
    score = F.round(cosine(F.col(vec_col), _vec_lit(q)), round_digits)
    return (
        cands.select(F.col(id_col), score.alias("score"))
        .orderBy(F.desc("score"), F.asc(id_col))
        .limit(k)
    )


def pq_train(
    embeddings: DataFrame,
    m: int = 4,
    n_codes: int = 16,
    max_iter: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_sample: int | None = 200_000,
):
    """Train product-quantization codebooks: split each vector into
    ``m`` contiguous subvectors and run L2 Lloyd's k-means per
    subspace — all ``m`` subspace updates happen in the SAME pass over
    the corpus (each Arrow batch emits per-(subspace, cluster) partial
    sums), so an iteration costs one scan regardless of ``m``.

    Same driver finisher as ``kmeans_centroids``: up to
    ``_DRIVER_MAX_ROWS`` rows the corpus is collected once (id order)
    and the identical per-subspace Lloyd step runs driver-side.

    Sampled training above ``train_sample`` rows, exactly as in
    ``kmeans_centroids`` (round 7, verdict-r6 item 5): codebook Lloyd
    iterations run on the deterministic md5-top-N sample; the full
    corpus is scanned once afterwards by ``pq_encode``. Fixtures stay
    below the threshold — existing ADC/recall pins unchanged.

    Deterministic init: the ``n_codes`` lowest-id vectors, sliced.
    Returns np.ndarray [m, n_codes, dim//m].
    """
    C, _ = _lloyd(
        embeddings, n_codes, m, max_iter, False, id_col, vec_col, train_sample
    )
    return C


def pq_encode(
    embeddings: DataFrame,
    codebooks,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, codes array<int>): nearest code per subspace. Compresses a
    dim x float32 vector to ``m`` small ints — the at-rest index a
    100 TB ANN store keeps hot while raw vectors stay cold."""
    import numpy as np
    import pandas as pd

    C = np.asarray(codebooks, dtype=np.float64)  # [m, k, dsub]
    m, _, dsub = C.shape
    bc = embeddings.sparkSession.sparkContext.broadcast(C)

    def encode(batches):
        Cb = bc.value
        for b in batches:
            X = np.vstack(b[vec_col].to_numpy()).astype(np.float64)
            codes = np.empty((len(X), m), dtype=np.int32)
            for s in range(m):
                Xs = X[:, s * dsub : (s + 1) * dsub]
                d = -2 * Xs @ Cb[s].T + (Cb[s] ** 2).sum(axis=1)[None, :]
                codes[:, s] = np.argmin(d, axis=1)
            yield pd.DataFrame(
                {"id": b[id_col].to_numpy(), "codes": list(codes)}
            )

    return embeddings.select(id_col, vec_col).mapInPandas(
        encode, "id long, codes array<int>"
    )


def pq_topk(
    embeddings: DataFrame,
    query_vec,
    codebooks,
    k: int = 10,
    pool: int = 100,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
    codes_df: DataFrame | None = None,
) -> DataFrame:
    """PQ ANN top-k by asymmetric distance computation (ADC) + exact
    re-rank.

    The query builds an [m x n_codes] lookup table of per-subspace
    squared distances ONCE on the driver; each encoded row's
    approximate distance is then a pure Catalyst fold over its ``m``
    codes against that literal table — JVM-side, no UDF, no shuffle
    (TakeOrdered pools the best ``pool`` candidates). Only the pool
    fetches raw vectors for the exact L2 re-rank, so the full-width
    embedding column stays unread for 99.9% of the corpus — the I/O
    shape that matters at 100 TB.

    Pass a persisted ``codes_df`` (from pq_encode) to reuse the index
    across queries; otherwise it is built on the fly.
    """
    import numpy as np

    C = np.asarray(codebooks, dtype=np.float64)
    m, n_codes, dsub = C.shape
    q = np.asarray(list(query_vec), dtype=np.float64)
    lut = np.stack(
        [((C[s] - q[s * dsub : (s + 1) * dsub]) ** 2).sum(axis=1) for s in range(m)]
    )  # [m, n_codes]
    lut_lit = F.array(
        *[F.array(*[F.lit(float(v)) for v in row]) for row in lut]
    )
    codes = codes_df if codes_df is not None else pq_encode(embeddings, C, id_col, vec_col)
    # approx_dist = sum_s lut[s][codes[s]] — an aggregate over the
    # zipped (subspace index, code) pairs; element_at is 1-based.
    approx = F.aggregate(
        F.zip_with(
            F.sequence(F.lit(1), F.lit(m)),
            F.col("codes"),
            lambda s, c: F.element_at(F.element_at(lut_lit, s), c + 1),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    cand = (
        codes.select("id", approx.alias("approx_dist"))
        .orderBy(F.asc("approx_dist"), F.asc("id"))
        .limit(pool)
    )
    pooled = embeddings.join(
        F.broadcast(cand), embeddings[id_col] == cand.id, "inner"
    )
    qlit = _vec_lit(q)
    sqdiff = F.aggregate(
        F.zip_with(
            F.transform(F.col(vec_col), lambda x: x.cast("double")),
            qlit,
            lambda x, y: (x - y) * (x - y),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        pooled.select(
            F.col(id_col), F.round(F.sqrt(sqdiff), round_digits).alias("l2_dist")
        )
        .orderBy(F.asc("l2_dist"), F.asc(id_col))
        .limit(k)
    )


def quantize_int8(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-vector symmetric int8 quantization: scale = absmax/127,
    q = floor(x/scale + 0.5) (explicit half-up — identical in every
    engine, unlike round()'s dialect-dependent half-even/half-away).
    4x smaller at rest than float32; dot products stay int32-safe.
    Pure Catalyst (transform/array_max folds) — quantization runs
    inside the scan at 100 TB, no UDF.

    Output: (id, scale double, qvec array<int>); all-zero vectors get
    scale 0 and an all-zero qvec.
    """
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    absmax = F.array_max(F.transform(v, F.abs))
    # bind scale to a named column BEFORE the quantize lambda: a lambda
    # capturing the computed absmax EXPRESSION would re-run the whole
    # array_max fold per element (O(dim^2)/row) — interpreted HOFs
    # re-evaluate captured outer expressions; a captured attribute is a
    # row-value read (see functions.text.shingles for the same pitfall).
    bound = embeddings.select(
        F.col(id_col).alias("id"),
        v.alias("__v"),
        (absmax / F.lit(127.0)).alias("__scale"),
    )
    s = F.col("__scale")
    qvec = F.when(s <= 0, F.transform(F.col("__v"), lambda x: F.lit(0))).otherwise(
        F.transform(F.col("__v"), lambda x: F.floor(x / s + F.lit(0.5)).cast("int"))
    )
    return bound.select("id", F.round(s, 9).alias("scale"), qvec.alias("qvec"))


def binarize_embeddings(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Sign-bit binary quantization (1 bit per dimension — 32x smaller
    than float32 at rest, the most aggressive point on the
    int8/matryoshka compression ladder next door): bit i of word w is
    set iff x[32w+i] > 0. Words carry 32 bits each inside a BIGINT so
    no shift ever reaches the sign bit and the packing is reproducible
    in plain 64-bit SQL (the oracle needs no HUGEINT bit tricks).

    Pure Catalyst — the packing runs inside the scan at 100 TB (one
    sequence/aggregate fold per word, no UDF). Out-of-range reads for
    dims not divisible by 32 use ``F.get`` (null -> bit 0), never
    ANSI-erroring element_at.

    Output: (id, words array<bigint>, n_dims int).
    """
    v = F.col(vec_col)
    nwords = F.ceil(F.size(v) / F.lit(32.0)).cast("int")
    # shiftleft() takes only a literal bit count, so the per-bit weight
    # comes from a 32-entry literal power table instead (i is 0..31 by
    # construction -> element_at never leaves the table, ANSI-safe)
    pows = F.array(*[F.lit(1 << b).cast("long") for b in range(32)])
    words = F.transform(
        F.sequence(F.lit(0), nwords - 1),
        lambda w: F.aggregate(
            F.sequence(F.lit(0), F.lit(31)),
            F.lit(0).cast("long"),
            lambda acc, i: acc.bitwiseOR(
                F.when(
                    F.get(v, (w * 32 + i).cast("int")) > 0,
                    F.element_at(pows, (i + 1).cast("int")),
                ).otherwise(F.lit(0).cast("long"))
            ),
        ),
    )
    return embeddings.select(
        F.col(id_col).alias("id"),
        words.alias("words"),
        F.size(v).alias("n_dims"),
    )


def pack_query_bits(query_vec) -> list[int]:
    """Driver-side twin of ``binarize_embeddings`` for a single query
    vector (same sign rule, same 32-bit word layout)."""
    words = []
    for w in range(0, (len(query_vec) + 31) // 32):
        word = 0
        for i in range(32):
            j = w * 32 + i
            if j < len(query_vec) and float(query_vec[j]) > 0:
                word |= 1 << i
        words.append(word)
    return words


def hamming_topk(
    packed: DataFrame,
    query_vec,
    k: int = 10,
    id_col: str = "id",
) -> DataFrame:
    """Exact Hamming top-k over sign-bit fingerprints: distance is
    Σ_w bit_count(xor(words[w], q[w])) — pure JVM popcount folded over
    the zipped word arrays, ~50x less arithmetic per candidate than a
    64-float cosine fold and 32x less data read. Plan shape matches
    brute_force_topk: scan -> project -> TakeOrderedAndProject (ties
    broken by id, total order). This is the cheap FIRST PASS of binary
    ANN serving; compose with ``hamming_rerank_topk`` for the
    recall-restoring exact rerank of the small pool.
    """
    qwords = pack_query_bits(query_vec)
    qlit = F.array(*[F.lit(int(w)).cast("long") for w in qwords])
    dist = F.aggregate(
        F.zip_with(F.col("words"), qlit, lambda a, b: F.bit_count(a.bitwiseXOR(b))),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return (
        packed.select(F.col(id_col), dist.alias("dist"))
        .orderBy(F.asc("dist"), F.asc(id_col))
        .limit(k)
    )


def hamming_rerank_topk(
    embeddings: DataFrame,
    query_vec,
    k: int = 10,
    pool: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """Binary-ANN serving shape: Hamming over packed sign bits selects
    a ``pool``-sized candidate set (popcount-cheap over the whole
    corpus), then ONLY the pool is re-scored with exact cosine — the
    standard two-stage design (binary prefilter + float rerank). The
    pool ids are a k-sized broadcast, so the rerank join never
    shuffles the corpus; recall vs brute force is pinned in tests
    (exact at pool == corpus by construction)."""
    cand = hamming_topk(binarize_embeddings(embeddings, id_col, vec_col), query_vec, k=pool)
    pool_rows = embeddings.join(
        F.broadcast(cand.select(F.col("id").alias(id_col))), id_col
    )
    score = F.round(cosine(F.col(vec_col), _vec_lit(query_vec)), round_digits)
    return (
        pool_rows.select(F.col(id_col), score.alias("score"))
        .orderBy(F.desc("score"), F.asc(id_col))
        .limit(k)
    )


def quantize_query_int8(query_vec) -> list[int]:
    """Driver-side twin of ``quantize_int8`` for a single query vector:
    same absmax/127 scale, same floor(x/s + 0.5) half-up rule — every
    op is one correctly-rounded IEEE step, so the codes match what the
    engine (or a SQL twin) computes from the same floats."""
    import math

    vals = [float(x) for x in query_vec]
    m = max((abs(x) for x in vals), default=0.0)
    s = m / 127.0
    if s <= 0:
        return [0] * len(vals)
    return [math.floor(x / s + 0.5) for x in vals]


def int8_topk(
    embeddings: DataFrame,
    query_vec,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact int8 dot-product top-k over SQ8 codes — the serving path
    where the corpus lives quantized (4x smaller at rest,
    ``quantize_int8``) and scoring is INTEGER arithmetic: per-vector
    symmetric quantization preserves each vector's direction up to the
    rounding step, so the int-dot ranking tracks cosine on the raw
    floats (recall pinned in tests); the scores themselves are exact
    BIGINTs (|q| <= 127, 64 dims => |dot| <= ~1e6), which is what
    makes the whole quantize->score->top-k chain value-hash-checkable,
    like the Hamming sibling one rung down the compression ladder.

    Plan shape: scan -> project (quantize fused) -> TakeOrdered; no
    shuffle of the corpus, no join.
    """
    q = quantize_int8(embeddings, id_col=id_col, vec_col=vec_col)
    qq = quantize_query_int8(query_vec)
    qlit = F.array(*[F.lit(int(v)).cast("long") for v in qq])
    dot = F.aggregate(
        F.zip_with(F.col("qvec"), qlit, lambda a, b: a.cast("long") * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return (
        q.select(F.col("id"), dot.alias("dot"))
        .orderBy(F.desc("dot"), F.asc("id"))
        .limit(k)
    )


def int8_rerank_topk(
    embeddings: DataFrame,
    query_vec,
    k: int = 10,
    pool: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """Two-stage int8 serving: the exact-integer code-dot selects a
    ``pool``-sized candidate set (NOTE: per-vector symmetric scales
    mean the code-dot ranks by ≈ x·q/absmax(x), not cosine — small-
    magnitude vectors get boosted, which is why the float rerank
    stage exists), then only the pool is re-scored with exact cosine.
    Exact at pool == corpus by construction; recall pinned in tests."""
    cand = int8_topk(embeddings, query_vec, k=pool, id_col=id_col, vec_col=vec_col)
    pool_rows = embeddings.join(
        F.broadcast(cand.select(F.col("id").alias(id_col))), id_col
    )
    score = F.round(cosine(F.col(vec_col), _vec_lit(query_vec)), round_digits)
    return (
        pool_rows.select(F.col(id_col), score.alias("score"))
        .orderBy(F.desc("score"), F.asc(id_col))
        .limit(k)
    )


def ml_minhash_join(df: DataFrame, text_col: str = "text", threshold: float = 0.6):
    """Optional: pyspark.ml MinHashLSH approxSimilarityJoin over token
    count-vectors — the library alternative to operators.dedup's
    hand-rolled MinHash. Import-gated; returns None if pyspark.ml is
    unavailable in the runtime."""
    try:
        from pyspark.ml.feature import CountVectorizer, MinHashLSH, RegexTokenizer
    except ImportError:  # pragma: no cover
        return None
    tok = RegexTokenizer(inputCol=text_col, outputCol="__toks", pattern=r"\W+")
    toks = tok.transform(df)
    cv = CountVectorizer(inputCol="__toks", outputCol="__vec", binary=True).fit(toks)
    vecs = cv.transform(toks)
    mh = MinHashLSH(inputCol="__vec", outputCol="__hashes", numHashTables=8, seed=42).fit(vecs)
    return mh.approxSimilarityJoin(vecs, vecs, 1.0 - threshold, distCol="jaccard_dist")


def ivf_pq_topk(
    embeddings: DataFrame,
    query_vec,
    centroids,
    codebooks,
    k: int = 10,
    nprobe: int = 4,
    pool: int = 100,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
    assigned_df: DataFrame | None = None,
    codes_df: DataFrame | None = None,
) -> DataFrame:
    """IVF-PQ: the standard billion-scale ANN index shape (coarse
    quantizer routes, product quantizer scores, exact re-rank at the
    end) composed from this module's pieces.

    1. rank the coarse centroids against the query on the driver and
       keep ``nprobe`` cells (centroids are k x dim — trivial);
    2. restrict the PQ code table to vectors assigned to those cells —
       with the corpus stored partitioned by cell this is partition
       pruning, not a scan;
    3. ADC-score ONLY that slice against the query's literal lookup
       table (JVM fold, no raw vectors read);
    4. exact re-rank of the top ``pool`` by true cosine.

    Recall knobs: nprobe (routing) and pool (re-rank width) — probing
    all cells with pool >= corpus reduces to exact search. Pass
    persisted ``assigned_df`` (ivf_assign) / ``codes_df`` (pq_encode)
    to amortize the index across queries.
    """
    import numpy as np

    C = np.asarray(centroids, dtype=np.float64)
    q = np.asarray(list(query_vec), dtype=np.float64)
    qn = q / np.linalg.norm(q)
    probes = np.argsort(-(C @ qn))[:nprobe].tolist()

    assigned = (
        assigned_df if assigned_df is not None else ivf_assign(embeddings, C, id_col, vec_col)
    )
    cell_ids = assigned.filter(F.col("cluster").isin(probes)).select("id")
    codes = codes_df if codes_df is not None else pq_encode(embeddings, np.asarray(codebooks), id_col, vec_col)
    cell_codes = codes.join(cell_ids, "id", "left_semi")
    slice_emb = embeddings.join(
        cell_ids, embeddings[id_col] == cell_ids.id, "left_semi"
    )
    return pq_topk(
        slice_emb,
        q,
        codebooks,
        k=k,
        pool=pool,
        id_col=id_col,
        vec_col=vec_col,
        round_digits=round_digits,
        codes_df=cell_codes,
    )


# ---- persisted IVF index (service posture) --------------------------------

class IVFIndex:
    """A built, ON-DISK IVF index: vectors stored partitioned by
    cluster + a small centroid table. The ANN analogue of
    ``BM25Index`` (postings.py): build once, query many, ZERO
    training/assignment work per query — and because the vector table
    is hive-partitioned by ``cluster``, every probe is a
    PARTITION-PRUNED scan (only the probed lists' files are opened),
    which at 100 TB is the difference between reading nprobe/k_clusters
    of the corpus and all of it."""

    def __init__(self, spark, path: str, centroids, id_col: str, vec_col: str):
        self.spark = spark
        self.path = path
        self.centroids = centroids
        self.id_col = id_col
        self.vec_col = vec_col

    def vectors(self) -> DataFrame:
        return self.spark.read.parquet(f"{self.path}/vectors")


def build_ivf_index(
    embeddings: DataFrame,
    out_dir: str,
    n_clusters: int = 16,
    max_iter: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> IVFIndex:
    """Train (distributed Lloyd), assign, and persist: vectors land
    partitioned by cluster, centroids as one tiny parquet. One
    training pass + one assignment pass + one partitioned write."""
    import numpy as np

    spark = embeddings.sparkSession
    centroids, _iters = kmeans_centroids(
        embeddings, n_clusters=n_clusters, max_iter=max_iter,
        id_col=id_col, vec_col=vec_col,
    )
    C = np.asarray(centroids, dtype=np.float64)
    assigned = ivf_assign(embeddings, C, id_col, vec_col)
    (
        embeddings.join(assigned, embeddings[id_col] == assigned.id)
        .select(F.col(id_col), F.col(vec_col), F.col("cluster"))
        .write.mode("overwrite").partitionBy("cluster")
        .parquet(f"{out_dir}/vectors")
    )
    local_frame(
        spark,
        [(i, [float(x) for x in row]) for i, row in enumerate(C)],
        "cluster int, centroid array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(f"{out_dir}/centroids")
    return IVFIndex(spark, out_dir, C, id_col, vec_col)


def load_ivf_index(
    spark, path: str, id_col: str = "vec_id", vec_col: str = "embedding"
) -> IVFIndex:
    """Open a built index; only the tiny centroid table is read
    eagerly (k_clusters x dim)."""
    import numpy as np

    rows = spark.read.parquet(f"{path}/centroids").orderBy("cluster").collect()
    C = np.asarray([r.centroid for r in rows], dtype=np.float64)
    return IVFIndex(spark, path, C, id_col, vec_col)


def ivf_index_topk(
    index: IVFIndex,
    query_vec,
    k: int = 10,
    nprobe: int = 4,
    round_digits: int = 6,
) -> DataFrame:
    """ANN top-k against the persisted index: rank centroids on the
    driver (k_clusters x dim — trivial), scan ONLY the probed cluster
    partitions (hive partition pruning on the ``cluster`` filter),
    exact-cosine re-rank, TakeOrdered. No training, no assignment, no
    full-corpus pass."""
    import numpy as np

    q = np.asarray(list(query_vec), dtype=np.float64)
    qn = q / np.linalg.norm(q)
    probes = np.argsort(-(index.centroids @ qn))[:nprobe].tolist()
    cands = index.vectors().filter(F.col("cluster").isin(probes))
    score = F.round(cosine(F.col(index.vec_col), _vec_lit(q)), round_digits)
    return (
        cands.select(F.col(index.id_col), score.alias("score"))
        .orderBy(F.desc("score"), F.asc(index.id_col))
        .limit(k)
    )


def ivf_index_append(index: IVFIndex, new_embeddings: DataFrame) -> None:
    """Incremental index maintenance: assign a NEW batch of vectors to
    the EXISTING centroids (one map-only pass — no retraining, no
    touch of the resident corpus) and append them into the partitioned
    layout. The ingest-shape twin of ``dedup_exact_incremental``:
    steady-state corpora grow by appends; retraining (``build_ivf_
    index``) is the periodic offline job when centroid drift warrants
    it. Appended files land inside the matching ``cluster=`` partition
    directories, so probes stay partition-pruned."""
    assigned = ivf_assign(
        new_embeddings, index.centroids, index.id_col, index.vec_col
    )
    (
        new_embeddings.join(assigned, new_embeddings[index.id_col] == assigned.id)
        .select(F.col(index.id_col), F.col(index.vec_col), F.col("cluster"))
        .write.mode("append").partitionBy("cluster")
        .parquet(f"{index.path}/vectors")
    )


def pca_fit(
    embeddings: DataFrame,
    n_components: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Distributed PCA fit over the embedding column — the standard
    dim-reduction step ahead of ANN indexing / semantic dedup (and the
    rotation PQ variants like OPQ start from).

    ONE corpus pass: each Arrow batch emits a single moment row
    (count, sum vector, flattened X^T X Gram partial); the reduce side
    aggregates O(batches) tiny rows via posexplode + SUM — for d=64
    that is 64 + 4096 scalars per batch, NEVER the corpus. The d x d
    covariance assembles on the driver (bounded by dimension, not
    data) and np.linalg.eigh factors it — LAPACK on a 64x64 matrix,
    the only non-Spark step, independent of corpus size.

    Determinism: eigenvectors are sign-ambiguous, so each component is
    oriented to make its largest-|loading| coordinate positive (ties
    to the lowest index); eigh's ascending eigenvalues are reversed to
    variance-descending order.

    Returns (mean [d], components [n_components x d],
    explained_variance_ratio [n_components]) as numpy arrays.
    """
    import numpy as np
    import pandas as pd

    def moments(batches):
        for b in batches:
            X = np.vstack(b[vec_col].to_numpy()).astype(np.float64)
            yield pd.DataFrame(
                {
                    "n": [X.shape[0]],
                    "s": [X.sum(axis=0).tolist()],
                    "g": [(X.T @ X).ravel().tolist()],
                }
            )

    part = embeddings.select(vec_col).mapInPandas(
        moments, "n long, s array<double>, g array<double>"
    )
    srows = (
        part.select("n", F.posexplode("s").alias("pos", "x"))
        .groupBy("pos")
        .agg(F.sum("n").alias("n"), F.sum("x").alias("sx"))
        .collect()
    )
    grows = (
        part.select(F.posexplode("g").alias("pos", "x"))
        .groupBy("pos")
        .agg(F.sum("x").alias("gx"))
        .collect()
    )
    if not srows:
        raise ValueError("pca_fit needs a non-empty embedding corpus")
    d = len(srows)
    n = int(srows[0].n)
    s = np.zeros(d)
    for r in srows:
        s[r.pos] = r.sx
    G = np.zeros(d * d)
    for r in grows:
        G[r.pos] = r.gx
    G = G.reshape(d, d)
    mean = s / n
    cov = (G - n * np.outer(mean, mean)) / max(n - 1, 1)
    evals, evecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(evals)[::-1][:n_components]
    comps = evecs[:, order].T  # [n_components x d]
    for i in range(comps.shape[0]):  # deterministic sign
        j = int(np.argmax(np.abs(comps[i])))
        if comps[i, j] < 0:
            comps[i] = -comps[i]
    total_var = float(evals.sum())
    evr = (evals[order] / total_var) if total_var > 0 else np.zeros(len(order))
    return mean, comps, evr


def pca_project(
    embeddings: DataFrame,
    mean,
    components,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_col: str = "pca",
) -> DataFrame:
    """Project the corpus onto fitted components: (X - mean) @ W^T as
    an Arrow-batched matmul (mean/W ride the closure — k x d floats,
    not data). Output (id_col, out_col array<double>). Map-only: no
    shuffle, composes with any downstream index build."""
    import numpy as np
    import pandas as pd

    mu = np.asarray(mean, dtype=np.float64)
    W = np.asarray(components, dtype=np.float64)

    def proj(batches):
        for b in batches:
            X = np.vstack(b[vec_col].to_numpy()).astype(np.float64)
            P = (X - mu) @ W.T
            yield pd.DataFrame({id_col: b[id_col], out_col: list(map(list, P))})

    return embeddings.select(id_col, vec_col).mapInPandas(
        proj, f"{id_col} long, {out_col} array<double>"
    )


