"""Similarity-graph query surface (reference parity, Neo4j side).

The reference queries a precomputed weighted directed graph —
``(:Providencia)-[:SIMILAR {similitud}]->(:Providencia)`` — on a Neo4j
server (reference streamlit_app.py:50,60-64). In Spark the property
graph is two DataFrames (SURVEY.md §1.4):

    nodes(id: string)
    edges(src: string, dst: string, similitud: double)   # similitud in [-100,100]

and every reference graph query is a filter/join over them. This module
also *builds* the edges from the ``embeddings`` fixture (pairwise
cosine x 100), reproducing the pipeline the reference assumes ran
offline (SURVEY.md §7 Phase 2). The approximate, scale path (LSH
blocking, O(n*b) not O(n^2)) lives in ``operators.similarity``.

The edges have two exact builds with one arithmetic: the Catalyst fold
(``build_similarity_edges``) and one numpy kernel over a
``VectorBlock`` the caller keeps on the driver (``cosine100_pairs``).
Both cast to double, fold the dot and the squared norms left to right,
then take ``dot / (|a| |b|) * 100``; a pair with a zero norm, a null or
a different-length side has a null ``similitud``. The kernel serves an
anchor's outgoing edges (``anchored_edges``: its row becomes a local
relation that Spark rounds and filters without running a job) and the
full build (``block_edges``: a Catalyst cross join of the block's rows,
scored on the driver when the build is small and by an Arrow UDF
otherwise, so a filter on ``src`` or ``dst`` still lands below the
join). Spark's own ``round`` sets the digits in every build.

Operator citations (SURVEY.md §2.2/§2.3):
  A9  list_nodes          — reference streamlit_app.py:48-53
  A10 neighborhood        — reference streamlit_app.py:60-64
  B3  directed-only       — only outgoing edges of the anchor qualify
  B4  closed range        — Column.between is inclusive-inclusive, exact match
  A13/A14 neighborhood_nodes — pyvis node upsert + singleton fallback
                            over the collected hits (reference
                            streamlit_app.py:73-85)
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from providenciasbigdata_spark.session import local_frame


def nodes_view(documents: DataFrame) -> DataFrame:
    """nodes(id) — node identity is the ruling id (FIXTURES.md §1)."""
    return documents.select(F.concat(F.lit("P-"), F.col("doc_id").cast("string")).alias("id"))


def list_nodes(nodes: DataFrame) -> DataFrame:
    """A9: ``MATCH (p:Providencia) RETURN p.id AS id`` -> all node ids.

    Projection of a single column; Catalyst prunes the scan to it.
    Sorted for deterministic presentation (the reference feeds a
    selectbox; order there is driver-dependent, B5 leaves it free).
    """
    return nodes.select("id").orderBy("id")


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity of two array<float/double> columns, pure
    Catalyst expressions (zip_with + aggregate fold) — JVM-side, no UDF.
    Sequential left-fold per row gives deterministic float results.

    N.B. HOF folds are interpreted (not codegen'd) and this computes
    BOTH norms per call — fine for per-row use, but inside an n^2 pair
    join compute ``l2_norm`` per SIDE once and divide the per-pair
    ``dot`` by the scalar product (turns 3 folds/pair into 1; ~3x on
    the pairwise build — see build_similarity_edges). A zero norm
    gives null, not a division error.
    """
    a = F.transform(a, lambda x: x.cast("double"))
    b = F.transform(b, lambda x: x.cast("double"))
    na = F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x))
    nb = F.sqrt(F.aggregate(F.transform(b, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x))
    return F.try_divide(dot(a, b), na * nb)


def dot(a: Column, b: Column) -> Column:
    """Dot product fold (expects equal-length numeric arrays)."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def l2_norm(col: Column) -> Column:
    """Scalar L2 norm of an array column (one fold per row)."""
    v = F.transform(col, lambda x: x.cast("double"))
    return F.sqrt(F.aggregate(F.transform(v, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x))


def build_similarity_edges(
    embeddings: DataFrame,
    anchor_vec_id: int | None = None,
    round_digits: int = 4,
) -> DataFrame:
    """Derive edges(src, dst, similitud) = pairwise cosine x 100.

    ``anchor_vec_id`` restricts the LEFT side to one vector — the
    anchored expansion of A10 then costs O(n), not O(n^2): the single
    anchor row is broadcast and the join is a broadcast nested loop over
    one row x n rows, i.e. a scan. The full O(n^2) build is for fixture
    scale / oracle checks only; at 100TB use
    ``operators.similarity.srp_lsh_pairs``.

    ``similitud`` is rounded (default 4 digits) so cross-engine oracle
    hashes are stable; the reference's UI granularity is 0.01
    (streamlit_app.py:168-169), so 4 digits is strictly finer.
    """
    # norms computed once per SIDE (O(n) folds); each of the O(n^2)
    # pairs then costs a single interpreted dot fold, not three
    left = embeddings.select(
        F.col("vec_id").alias("src_id"),
        F.col("embedding").alias("emb_a"),
        l2_norm(F.col("embedding")).alias("na"),
    )
    if anchor_vec_id is not None:
        left = F.broadcast(left.filter(F.col("src_id") == int(anchor_vec_id)))
    right = embeddings.select(
        F.col("vec_id").alias("dst_id"),
        F.col("embedding").alias("emb_b"),
        l2_norm(F.col("embedding")).alias("nb"),
    )
    pairs = left.join(right, F.col("src_id") != F.col("dst_id"))
    cos = F.try_divide(
        dot(
            F.transform("emb_a", lambda x: x.cast("double")),
            F.transform("emb_b", lambda x: x.cast("double")),
        ),
        F.col("na") * F.col("nb"),
    )
    return _edge_frame(pairs, cos * 100, round_digits)


def _edge_frame(pairs: DataFrame, cos100: Column, round_digits: int) -> DataFrame:
    """edges(src, dst, similitud) from (src_id, dst_id) pairs and their
    unrounded cosine x 100; Spark's own round (HALF_UP) sets the digits.
    The ids are SQL text: one gateway call each, on the request path."""
    return pairs.select(
        F.expr("concat('P-', CAST(src_id AS STRING)) AS src"),
        F.expr("concat('P-', CAST(dst_id AS STRING)) AS dst"),
        F.round(cos100, round_digits).alias("similitud"),
    )


class VectorBlock:
    """An embeddings table held on the driver for ``anchored_edges``.

    ``ids`` are the int64 vec_ids (rows without one are dropped: no
    edge has them as an endpoint). ``E`` is the float64 matrix, each
    row's values read exactly and padded with zeros to the widest row
    (``dim``); ``lens`` is each row's own length; ``ok`` is False for a
    null embedding or one holding a null element. ``norms`` are the
    square roots of each row's squares folded left to right, as
    ``l2_norm`` folds them (padding adds +0.0, which changes no sum).
    """

    def __init__(self, table: pa.Table):
        """``table``: (vec_id, embedding) as collected with ``toArrow``."""
        table = table.filter(pc.is_valid(table["vec_id"]))
        emb = table["embedding"].combine_chunks()
        n = len(emb)
        self.ids = table["vec_id"].to_numpy().astype(np.int64)
        self.ok = emb.is_valid().to_numpy(zero_copy_only=False)
        self.lens = pc.list_value_length(emb).fill_null(0).to_numpy().astype(np.int64)
        values = emb.flatten()  # the values of the non-null rows, in row order
        row = np.repeat(np.arange(n), self.lens)
        nulls = np.bincount(row, weights=values.is_null().to_numpy(zero_copy_only=False), minlength=n)
        self.ok &= nulls == 0
        col = np.arange(len(values)) - np.repeat(np.cumsum(self.lens) - self.lens, self.lens)
        self.E = np.zeros((n, int(self.lens.max()) if n else 0))
        self.E[row, col] = values.fill_null(0).to_numpy(zero_copy_only=False).astype(np.float64)
        sq = np.zeros(n)
        for j in range(self.dim):
            sq = sq + self.E[:, j] * self.E[:, j]
        self.norms = np.sqrt(sq)

    @property
    def dim(self) -> int:
        return self.E.shape[1]


def cosine100_pairs(block: VectorBlock, a, b):
    """Unrounded cosine x 100 of ``block`` rows ``a[i]`` and ``b[i]``
    (int arrays of row positions that broadcast together: a column and
    a row give every pair), as (values, valid) of the broadcast shape:
    the dot folded left to right and divided by the product of the
    norms, as ``build_similarity_edges`` does; ``valid`` is False where
    that build gives null (a null or null-holding side, different
    lengths, a zero norm product)."""
    A, B = block.E[a], block.E[b]
    dots = np.zeros(np.broadcast_shapes(np.shape(a), np.shape(b)))
    for j in range(block.dim):
        dots = dots + A[..., j] * B[..., j]
    den = block.norms[a] * block.norms[b]
    valid = block.ok[a] & block.ok[b] & (block.lens[a] == block.lens[b]) & (den != 0)
    with np.errstate(all="ignore"):
        values = np.divide(dots, den, out=np.zeros_like(dots), where=den != 0) * 100
    return values, valid


def anchored_cosine100(block: VectorBlock, anchor_vec_id: int):
    """The anchor's outgoing cosine x 100 from ``block``, unrounded:
    (src_ids, dst_ids, values, valid), one entry per pair of an anchor
    row and a row with another id, from ``cosine100_pairs``."""
    a = np.flatnonzero(block.ids == anchor_vec_id)
    b = np.flatnonzero(block.ids != anchor_vec_id)
    a, b = np.repeat(a, len(b)), np.tile(b, len(a))
    values, valid = cosine100_pairs(block, a, b)
    return block.ids[a], block.ids[b], values, valid


# Pairs one task of the full build's kernel scores: each Python task
# unpickles the block and holds a row-queue page (tens of MB) until
# its worker monitor exits. A build of at most this many pairs is
# scored on the driver instead (at most 8 MB of scores), and starts no
# Python worker.
_PAIRS_PER_TASK = 1 << 20


def block_edges(spark: SparkSession, block: VectorBlock, round_digits: int = 4) -> DataFrame:
    """``build_similarity_edges(embeddings)`` from the driver-held
    ``block``: a Catalyst cross join of the block's rows with the
    (block row, vec_id) local relation, each pair scored by
    ``cosine100_pairs``. Up to ``_PAIRS_PER_TASK`` pairs the driver
    scores them all at once, and each source row of the join carries
    its row of scores, which the pair indexes by its block row; above
    it an Arrow UDF scores the pairs against the block it carries.
    Pairs are keyed by block row, so rows sharing a vec_id pair exactly
    as the fold pairs them. A filter on ``src`` or ``dst`` still folds
    into its side's relation below the join, so an anchored read of
    this frame stays O(n) joined pairs."""
    n = len(block.ids)
    rows = local_frame(spark, pa.table({
        "row": pa.array(np.arange(n), pa.int64()),
        "vec_id": pa.array(block.ids, pa.int64()),
    }))
    if n * n <= _PAIRS_PER_TASK:
        values, valid = cosine100_pairs(block, np.arange(n)[:, None], np.arange(n)[None, :])
        scores = pa.ListArray.from_arrays(
            pa.array(np.arange(n + 1) * n, pa.int32()),
            pa.array(values.reshape(-1), pa.float64(), mask=~valid.reshape(-1)),
        )
        sources = local_frame(spark, pa.table({
            "src_id": pa.array(block.ids, pa.int64()), "scores": scores,
        }))
        pairs = sources.join(
            rows.select(F.col("row").alias("b"), F.col("vec_id").alias("dst_id")),
            F.col("src_id") != F.col("dst_id"),
        )
        return _edge_frame(pairs, F.col("scores")[F.col("b")], round_digits)

    @F.arrow_udf("double")
    def cos100(a: pa.Array, b: pa.Array) -> pa.Array:
        values, valid = cosine100_pairs(block, a.to_numpy(), b.to_numpy())
        return pa.array(values, pa.float64(), mask=~valid)

    pairs = rows.select(F.col("row").alias("a"), F.col("vec_id").alias("src_id")).join(
        rows.select(F.col("row").alias("b"), F.col("vec_id").alias("dst_id")),
        F.col("src_id") != F.col("dst_id"),
    )
    tasks = max(1, min(-(-n * n // _PAIRS_PER_TASK), spark.sparkContext.defaultParallelism))
    # the score comes out of a one-element explode: a filter on it stays
    # above the generator, so the UDF runs once per pair, while a filter
    # on src or dst, which the generator does not produce, passes below
    scored = pairs.coalesce(tasks).select(
        "src_id", "dst_id", F.explode(F.array(cos100("a", "b"))).alias("cos100")
    )
    return _edge_frame(scored, F.col("cos100"), round_digits)


def anchored_edges(
    spark: SparkSession, block: VectorBlock, anchor_vec_id: int, round_digits: int = 4
) -> DataFrame:
    """``build_similarity_edges(embeddings, anchor_vec_id)`` from the
    driver-held ``block``: the kernel's row as a local relation, so
    rounding and any filter or projection above it fold into the
    relation and collecting it runs no Spark job."""
    return _edge_frame(_kernel_row(spark, block, anchor_vec_id), F.col("cos100"), round_digits)


def _kernel_row(spark: SparkSession, block: VectorBlock, anchor_vec_id: int) -> DataFrame:
    """The anchor's (src_id, dst_id, cos100) row as a local relation."""
    src, dst, values, valid = anchored_cosine100(block, int(anchor_vec_id))
    return local_frame(spark, pa.table({
        "src_id": pa.array(src, pa.int64()),
        "dst_id": pa.array(dst, pa.int64()),
        "cos100": pa.array(values, pa.float64(), mask=~valid),
    }))


def anchored_neighborhood(
    spark: SparkSession, block: VectorBlock, anchor_vec_id: int, lo: float, hi: float,
    round_digits: int = 4,
) -> tuple[list[str], list[float]]:
    """``neighborhood(anchored_edges(spark, block, anchor_vec_id), ...)``
    collected, as (destino ids, similitudes) in the kernel's row order:
    one local relation from the kernel's row, rounded by Spark's own
    ``round`` and filtered by its inclusive ``between`` in one plan,
    then collected with no Spark job. The origen of every hit is
    ``P-<anchor_vec_id>``."""
    sim = F.round("cos100", round_digits)
    rows = (
        _kernel_row(spark, block, anchor_vec_id)
        .where(sim.between(float(lo), float(hi)))
        .select("dst_id", sim.alias("similitud"))
        .collect()
    )
    return [f"P-{r[0]}" for r in rows], [r[1] for r in rows]


def neighborhood(edges: DataFrame, anchor: str, lo: float, hi: float) -> DataFrame:
    """A10: anchored 1-hop directed expansion + closed weight range.

    Cypher (reference streamlit_app.py:60-64):
        MATCH (a:Providencia {id:$p})-[r:SIMILAR]->(b:Providencia)
        WHERE r.similitud >= $lo AND r.similitud <= $hi
        RETURN a.id AS origen, b.id AS destino, r.similitud AS similitud

    Direction matters (B3): only ``src == anchor`` rows qualify; never
    union reversed edges in compat mode. ``between`` is
    inclusive-inclusive, matching Cypher's ``>= AND <=`` (B4). With
    edges bucketed/sorted by ``src`` this is a single-bucket scan
    (SURVEY.md §4.3); both predicates push down to the scan.
    """
    return edges.filter(
        (F.col("src") == F.lit(anchor)) & F.col("similitud").between(float(lo), float(hi))
    ).select(
        F.col("src").alias("origen"),
        F.col("dst").alias("destino"),
        F.col("similitud"),
    )


def neighborhood_nodes(hits, anchor: str) -> list[str]:
    """A13+A14: the sorted node ids of a COLLECTED neighborhood result
    (``hits``: a pandas frame, or any mapping, with ``origen`` and
    ``destino`` columns).

    pyvis upserts src and dst nodes per edge (reference
    streamlit_app.py:80-81) == the distinct endpoints; the anchor
    renders even with zero edges (singleton fallback,
    streamlit_app.py:83-85) == the anchor joins them.
    """
    return sorted({anchor, *hits["origen"], *hits["destino"]})
