"""Facade: the reference user's switch-over path, end to end."""

from __future__ import annotations

import pytest

from providenciasbigdata_spark.compat.documents import EMPTY_SENTINEL_COLUMN
from providenciasbigdata_spark.engine import ProvidenciasEngine

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def engine(spark):
    return ProvidenciasEngine(spark, SF)


def test_facet_page_flow(engine):
    tipos = engine.facet_options("tipo")
    assert tipos == sorted(tipos) and len(tipos) > 1
    hits = engine.query_rulings(tipo=tipos[0])
    assert hits.count() > 0
    assert set(hits.columns) >= {"providencia", "tipo", "anio", "texto"}


def test_cascade_precedence_via_facade(engine):
    # providencia outranks tipo (A8): tipo value must be ignored
    got = engine.query_rulings(providencia="P-10", tipo="definitely-not-a-tipo")
    assert got.count() == 1


def test_empty_sentinel_via_facade(engine):
    frame = engine.query_rulings_frame(providencia="P-does-not-exist")
    assert list(frame.columns) == [EMPTY_SENTINEL_COLUMN]


def test_graph_page_flow(engine):
    ids = engine.node_ids()
    assert "P-7" in ids
    hits = engine.similarity_neighborhood("P-7", 0.0, 100.0)
    assert hits.columns == ["origen", "destino", "similitud"]
    n = hits.count()
    assert n > 0
    nodes, edges = engine.neighborhood_graph("P-7", 0.0, 100.0)
    assert nodes.count() == n + 1  # all destinations + the anchor


def test_singleton_fallback_via_facade(engine):
    # impossible range -> zero edges, anchor still renders (A14)
    nodes, edges = engine.neighborhood_graph("P-7", 99.999, 100.0)
    assert edges.count() == 0
    assert [r.id for r in nodes.collect()] == ["P-7"]


@pytest.mark.parametrize("anchor", ["nope", "P-abc", "P-", "", "P-007", "P-999999"])
def test_anchor_that_is_not_a_node_renders_alone(engine, anchor):
    # malformed ids used to raise IndexError/ValueError; every anchor
    # that names no node gets zero edges and the anchor alone (A14),
    # as run_cypher answers it
    nodes, edges = engine.neighborhood_graph(anchor, 0.0, 100.0)
    assert [r.id for r in nodes.collect()] == [anchor]
    assert edges.collect() == [] and edges.columns == ["origen", "destino", "similitud"]
    assert engine.similarity_neighborhood(anchor).count() == 0


def test_approx_nearest_neighbors_on_empty_embeddings(spark, tmp_path):
    # the approx path used to call .embedding on first() == None
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.table({
            "vec_id": pa.array([], pa.int64()),
            "embedding": pa.array([], pa.list_(pa.float32())),
        }),
        str(tmp_path / "embeddings.parquet"),
    )
    eng = ProvidenciasEngine(spark, str(tmp_path))
    exact = eng.nearest_neighbors([1.0] * 64, k=5)
    approx = eng.nearest_neighbors([1.0] * 64, k=5, approx=True)
    assert approx.collect() == [] == exact.collect()
    assert approx.columns == exact.columns == ["vec_id", "score"]


def test_dedup_and_ann_extensions(engine):
    assert engine.deduplicate("exact").count() > 0
    qvec = [1.0] * 64
    top = engine.nearest_neighbors(qvec, k=5)
    assert top.count() == 5
    top_approx = engine.nearest_neighbors(qvec, k=5, approx=True)
    assert top_approx.count() <= 5


def test_engine_mongo_aggregate_and_cursor(spark):
    from providenciasbigdata_spark.engine import ProvidenciasEngine

    eng = ProvidenciasEngine(spark, "/root/testdata/sf0.001")
    counts = eng.aggregate_mongo(
        [{"$group": {"_id": "$tipo", "n": {"$sum": 1}}}, {"$sort": {"n": -1}}]
    )
    assert counts.columns == ["_id", "n"]
    assert counts.count() == eng.rulings().select("tipo").distinct().count()
    page = eng.query_mongo(
        {"tipo": counts.first()._id},
        projection={"providencia": 1, "anio": 1},
        sort=[("anio", -1), ("providencia", 1)],
        limit=5,
    )
    assert page.columns == ["providencia", "anio"] and page.count() == 5


def test_rulings_stream_drains_to_collection_counts(spark, tmp_path):
    from pyspark.sql import functions as F

    from providenciasbigdata_spark import datasources, streaming as st
    from providenciasbigdata_spark.compat.documents import rulings_view
    from providenciasbigdata_spark.engine import ProvidenciasEngine
    from providenciasbigdata_spark.io import load_table

    out = str(tmp_path / "dump")
    docs = rulings_view(load_table(spark, "/root/testdata/sf0.001", "documents")).select(
        "doc_id", "providencia", "tipo", "anio", "texto"
    )
    datasources.export_mongodump(docs, out)

    eng = ProvidenciasEngine.from_mongodump(spark, out)
    streamed = st.run_available_now(
        eng.rulings_stream().groupBy("tipo").agg(F.count("*").cast("long").alias("n")),
        "engine_rulings_stream_test",
    )
    want = sorted((r.tipo, r.n) for r in docs.groupBy("tipo").agg(F.count("*").cast("long").alias("n")).collect())
    assert sorted((r.tipo, r.n) for r in streamed.collect()) == want


def test_rulings_stream_requires_dump_dir(spark):
    import pytest as _pytest

    from providenciasbigdata_spark.engine import ProvidenciasEngine

    eng = ProvidenciasEngine(spark, "/root/testdata/sf0.001")
    with _pytest.raises(ValueError, match="dump_dir"):
        eng.rulings_stream()


def test_engine_count_documents(engine):
    n_all = engine.count_documents({})
    n_some = engine.count_documents({"anio": {"$gte": 2010}})
    assert 0 < n_some < n_all


def test_engine_distinct_with_filter(engine):
    all_years = engine.distinct("anio")
    assert all_years == sorted(all_years) and len(all_years) > 5
    within = engine.distinct("anio", {"tipo": "src3", "anio": {"$gte": 2010}})
    assert within and all(y >= 2010 for y in within)
    assert set(within) <= set(all_years)


def test_find_one_surface(spark):
    """findOne: dict-or-None contract; deterministic under sort; the
    cursor kwargs (projection) pass through."""
    from providenciasbigdata_spark.engine import ProvidenciasEngine

    eng = ProvidenciasEngine(spark, "/root/testdata/sf0.001")
    doc = eng.find_one({"anio": 2005}, sort=[("providencia", 1)],
                       projection={"providencia": 1, "anio": 1})
    assert set(doc) == {"providencia", "anio"} and doc["anio"] == 2005
    assert eng.find_one({"providencia": "NOPE"}) is None
