"""Reference-parity tests for the similarity-graph surface (SURVEY.md §5.2)."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from providenciasbigdata_spark.compat import (
    build_similarity_edges,
    list_nodes,
    neighborhood,
    neighborhood_nodes,
    nodes_view,
)
from providenciasbigdata_spark.io import load_table


def test_list_nodes(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    ids = [r.id for r in list_nodes(nodes_view(docs)).collect()]
    assert len(ids) == docs.count()
    assert ids == sorted(ids)
    assert all(i.startswith("P-") for i in ids)


def test_cosine_matches_numpy(spark, sf_dir):
    import numpy as np

    emb = load_table(spark, sf_dir, "embeddings")
    edges = build_similarity_edges(emb, anchor_vec_id=0, round_digits=8)
    got = {r.dst: r.similitud for r in edges.collect()}
    rows = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in emb.limit(50).collect()}
    a = rows[0]
    for vid, v in rows.items():
        if vid == 0:
            continue
        want = float(np.dot(a, v) / (np.linalg.norm(a) * np.linalg.norm(v))) * 100
        assert math.isclose(got[f"P-{vid}"], want, abs_tol=1e-4)


def test_neighborhood_directed_and_inclusive(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings").limit(50)
    edges = build_similarity_edges(emb).cache()
    anchor = "P-0"
    all_out = neighborhood(edges, anchor, -100.0, 100.0)
    assert all_out.count() == 49  # only outgoing edges of the anchor (B3)
    assert all_out.filter(F.col("origen") != anchor).count() == 0
    # B4: closed range — boundaries are included
    one = all_out.orderBy(F.desc("similitud")).first()
    exact = neighborhood(edges, anchor, one.similitud, one.similitud)
    assert exact.count() >= 1
    assert exact.filter(F.col("destino") == one.destino).count() == 1
    edges.unpersist()


def test_neighborhood_nodes_and_singleton_fallback(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings").limit(20)
    edges = build_similarity_edges(emb)
    anchor = "P-0"
    hits = neighborhood(edges, anchor, 90.0, 100.0).toPandas()  # likely empty at random data
    ids = neighborhood_nodes(hits, anchor)
    assert anchor in ids  # A14: anchor always present
    assert ids == sorted({anchor, *hits["destino"]})
    assert neighborhood_nodes(hits.iloc[:0], anchor) == [anchor]
