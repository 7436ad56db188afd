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

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


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
    the pairwise build — see build_similarity_edges).
    """
    a = F.transform(a, lambda x: x.cast("double"))
    b = F.transform(b, lambda x: x.cast("double"))
    na = F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x))
    nb = F.sqrt(F.aggregate(F.transform(b, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x))
    return dot(a, b) / (na * nb)


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
    ``operators.similarity.lsh_similarity_join``.

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
    cos = dot(
        F.transform("emb_a", lambda x: x.cast("double")),
        F.transform("emb_b", lambda x: x.cast("double")),
    ) / (F.col("na") * F.col("nb"))
    return pairs.select(
        F.concat(F.lit("P-"), F.col("src_id").cast("string")).alias("src"),
        F.concat(F.lit("P-"), F.col("dst_id").cast("string")).alias("dst"),
        F.round(cos * 100, round_digits).alias("similitud"),
    )


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
