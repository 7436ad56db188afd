"""The engine's resident snapshot and the BM25 index's cache: requests
read one in-memory version, a changed listing swaps in the next one,
and cached data lives exactly as long as its owner. The driver state
derived from a version (the vector block, the facet domains, the
document block) is built once, by the first request that needs it, and
goes with its version; page-1 frames cut from the document block are
snapshots of their version."""

from __future__ import annotations

import gc
import os
import shutil
import sys
import threading
import time
import weakref
from concurrent.futures import ThreadPoolExecutor

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from providenciasbigdata_spark import session
from providenciasbigdata_spark.compat.documents import rulings_view
from providenciasbigdata_spark.engine import ProvidenciasEngine
from providenciasbigdata_spark.io import load_table
from providenciasbigdata_spark.operators.postings import bm25_search, build_bm25_index

_CYPHER = (
    "MATCH (a:Providencia {id: $providencia})-[r:SIMILAR]->(b:Providencia) "
    "WHERE r.similitud >= $rango_min AND r.similitud <= $rango_max "
    "RETURN a.id AS origen, b.id AS destino, r.similitud AS similitud"
)


def _store(tmp_path, sf_dir) -> str:
    """A private copy of the fixture, ``documents.parquet`` as a
    directory that files can be appended to (plans over it match no
    other test's cache)."""
    store = tmp_path / "store"
    (store / "documents.parquet").mkdir(parents=True)
    shutil.copy(f"{sf_dir}/documents.parquet", store / "documents.parquet" / "part-0.parquet")
    shutil.copy(f"{sf_dir}/embeddings.parquet", store / "embeddings.parquet")
    return str(store)


def _append(store: str, sf_dir: str, name: str, first_id: int, n: int, source: str) -> None:
    """Add ``n`` fixture rows under new ids as one more file, made
    visible by a rename, as a committing writer does."""
    t = pq.read_table(f"{sf_dir}/documents.parquet").slice(0, n).to_pandas()
    t["doc_id"] = range(first_id, first_id + n)
    t["source"] = source
    part = os.path.join(store, "documents.parquet")
    pq.write_table(pa.Table.from_pandas(t, preserve_index=False), os.path.join(part, f"_{name}"))
    os.rename(os.path.join(part, f"_{name}"), os.path.join(part, name))


def _persisted(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def _settled(spark) -> int:
    """The persisted-RDD count once frames of owners already collected
    have been unpersisted."""
    gc.collect()
    last = -1
    for _ in range(200):
        n = _persisted(spark)
        if session._RELEASED.empty() and n == last:
            return n
        last = n
        time.sleep(0.05)
    return last


def _back_to(spark, base: int) -> bool:
    gc.collect()
    for _ in range(400):
        if _persisted(spark) == base:
            return True
        time.sleep(0.05)
    return False


def _cached(df) -> bool:
    level = df.storageLevel
    return level.useMemory or level.useDisk


def _scans(df) -> list:
    """The leaf scans of ``df``'s executed plan (run it first), looking
    through adaptive query stages."""

    def leaves(plan):
        name = plan.nodeName()
        if name == "AdaptiveSparkPlan":
            return leaves(plan.executedPlan())
        if name.endswith("QueryStage"):
            return leaves(plan.plan())
        kids = plan.children()
        if kids.size() == 0:
            return [plan]
        return [leaf for i in range(kids.size()) for leaf in leaves(kids.apply(i))]

    return leaves(df._jdf.queryExecution().executedPlan())


def test_page1_requests_share_one_in_memory_relation(spark, tmp_path, sf_dir, distributed):
    # a version built without a document block plans the cascade over the snapshot
    with distributed():
        eng = ProvidenciasEngine(spark, _store(tmp_path, sf_dir))
        first = eng.query_rulings(tipo="src3")
        second = eng.query_rulings(anio=2005)
    assert first.count() > 0 and second.count() > 0
    rdds = set()
    for df in (first, second):
        scans = _scans(df)
        assert [s.nodeName() for s in scans] == ["InMemoryTableScan"]
        rdds.add(scans[0].relation().cacheBuilder().cachedColumnBuffers().id())
    assert len(rdds) == 1
    assert eng.rulings() is eng.rulings()
    eng.release()


def test_page1_requests_read_one_document_block(spark, tmp_path, sf_dir, monkeypatch):
    """Below the gate, page-1 requests are local relations cut from the
    one document block of the one version they read."""
    from providenciasbigdata_spark import engine

    blocks = []
    build = engine._document_block
    monkeypatch.setattr(engine, "_document_block", lambda f: blocks.append(build(f)) or blocks[-1])
    eng = ProvidenciasEngine(spark, _store(tmp_path, sf_dir))
    # a stemmed texto match cannot use the block, so it builds none
    assert not isinstance(eng.query_rulings(texto="merges", stem=True), session.LocalFrame)
    assert blocks == []
    frames = [
        eng.query_rulings(tipo="src3"), eng.query_rulings(anio=2005), eng.query_rulings(texto="merge")
    ]
    v0 = eng.rulings()
    for df in frames:
        assert isinstance(df, session.LocalFrame)
        assert df.count() > 0
        assert [s.nodeName() for s in _scans(df)] == ["LocalTableScan"]
    assert len(blocks) == 1 and eng.rulings() is v0
    rows = {r.providencia for df in frames for r in df.collect()}
    assert rows <= set(blocks[0].column("providencia").to_pylist())
    eng.release()


def test_held_pages_are_snapshots_of_their_version(spark, tmp_path, sf_dir):
    store = _store(tmp_path, sf_dir)
    eng = ProvidenciasEngine(spark, store)
    held = [eng.query_rulings(tipo="src3"), eng.query_mongo({"tipo": "src3"})]
    before = [len(df.collect()) for df in held]
    _append(store, sf_dir, "part-1.parquet", 10_000, 40, "src3")
    assert len(eng.query_rulings(tipo="src3").collect()) == before[0] + 40
    assert [len(df.collect()) for df in held] == before
    eng.release()


def test_append_swaps_in_the_next_version(spark, tmp_path, sf_dir):
    store = _store(tmp_path, sf_dir)
    eng = ProvidenciasEngine(spark, store)
    assert eng.count_documents({"tipo": "added"}) == 0
    v0 = eng.rulings()
    base = _settled(spark)
    _append(store, sf_dir, "part-1.parquet", 10_000, 7, "added")
    assert eng.count_documents({"tipo": "added"}) == 7
    assert eng.query_rulings(providencia="P-10006").count() == 1
    v1 = eng.rulings()
    assert v1 is not v0 and _cached(v1)
    assert _persisted(spark) <= base
    eng.release()


def test_release_and_collection_free_the_cache(spark, tmp_path, sf_dir, distributed):
    base = _settled(spark)
    eng = ProvidenciasEngine(spark, _store(tmp_path, sf_dir))
    eng.query_rulings(tipo="src3").collect()
    eng.nearest_neighbors([1.0] * 64, k=3).collect()
    assert _persisted(spark) == base + 2
    eng.release()
    assert _persisted(spark) == base
    # the engine serves again after a release, and collection frees it
    frames = [eng.rulings()]
    eng.facet_options("tipo")
    assert _persisted(spark) == base + 1
    del eng
    assert _back_to(spark, base) and not _cached(frames[0])

    # an index above its size gate is a persisted table
    with distributed():
        idx = build_bm25_index(rulings_view(load_table(spark, sf_dir, "documents")))
        assert _persisted(spark) == base + 1
        query = bm25_search(idx, ["merge"], k=3)
        idx.release()
        assert _persisted(spark) == base and len(query.collect()) == 3
        idx = build_bm25_index(rulings_view(load_table(spark, sf_dir, "documents")))
    tfs = idx.term_freqs
    del idx
    assert _back_to(spark, base) and not _cached(tfs)


def test_release_and_collection_free_the_bm25_block(spark, sf_dir):
    base = _settled(spark)
    docs = rulings_view(load_table(spark, sf_dir, "documents"))
    idx = build_bm25_index(docs)
    assert _persisted(spark) == base and not _cached(idx.term_freqs)
    block = weakref.ref(idx._postings)
    query = bm25_search(idx, ["merge"], k=3)
    idx.release()
    gc.collect()
    assert block() is None and len(query.collect()) == 3
    # a released index still answers, through its lineage
    assert bm25_search(idx, ["merge"], k=3).collect() == query.collect()
    idx = build_bm25_index(docs)
    block = weakref.ref(idx._postings)
    del idx
    gc.collect()
    assert block() is None and _persisted(spark) == base


def test_readers_see_the_old_or_the_new_version(spark, tmp_path, sf_dir):
    store = _store(tmp_path, sf_dir)
    eng = ProvidenciasEngine(spark, store)
    old = eng.count_documents({"tipo": "src3"})
    seen, frames, errors = [], [], []
    go = threading.Barrier(5)

    def reader():
        try:
            go.wait()
            for _ in range(4):
                frames.append(eng.rulings())
                seen.append(eng.count_documents({"tipo": "src3"}))
        except Exception as exc:  # surfaced by the assert below
            errors.append(exc)

    threads = [threading.Thread(target=reader) for _ in range(4)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for t in threads:
            t.start()
        go.wait()
        _append(store, sf_dir, "part-1.parquet", 10_000, 40, "src3")
        for t in threads:
            t.join(timeout=300)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads) and not errors
    assert set(seen) <= {old, old + 40} and len(seen) == 16
    # one swap, made once: readers racing on the new listing share v1
    assert len({id(f) for f in frames}) <= 2
    assert eng.count_documents({"tipo": "src3"}) == old + 40
    eng.release()


@pytest.mark.parametrize("dump", [False, True])
def test_nodes_and_edges_read_the_snapshot(spark, tmp_path, sf_dir, dump, distributed):
    from providenciasbigdata_spark import datasources

    store = _store(tmp_path, sf_dir)
    if dump:
        out = str(tmp_path / "dump")
        datasources.export_mongodump(
            rulings_view(load_table(spark, sf_dir, "documents")).select(
                "doc_id", "providencia", "tipo", "anio", "texto"
            ),
            out,
        )

        def engine():
            return ProvidenciasEngine.from_mongodump(spark, out, store)
    else:

        def engine():
            return ProvidenciasEngine(spark, store)

    eng = engine()
    assert len(eng.node_ids()) == 500
    nodes = eng.nodes()
    nodes.collect()
    assert {s.nodeName() for s in _scans(nodes)} == {"InMemoryTableScan"}
    # below the driver gate a neighborhood reads the block collected
    # from the snapshot, as a local relation; above it, the snapshot
    hits = eng.similarity_neighborhood("P-7", 20.0, 100.0)
    assert hits.count() > 0
    assert {s.nodeName() for s in _scans(hits)} == {"LocalTableScan"}
    eng.release()
    with distributed():
        eng = engine()
        hits = eng.similarity_neighborhood("P-7", 20.0, 100.0)
        assert hits.count() > 0
        assert {s.nodeName() for s in _scans(hits)} == {"InMemoryTableScan"}
        eng.release()


# -- per-version driver state: the vector block and the facet domains --


def _vector_store(tmp_path, sf_dir) -> str:
    """``_store`` with ``embeddings.parquet`` as a directory too."""
    store = _store(tmp_path, sf_dir)
    emb = os.path.join(store, "embeddings.parquet")
    os.rename(emb, emb + ".file")
    os.mkdir(emb)
    os.rename(emb + ".file", os.path.join(emb, "part-0.parquet"))
    return store


def _append_vectors(store: str, sf_dir: str, name: str, first_id: int, n: int) -> None:
    """Add copies of the fixture's first ``n`` vectors under new ids."""
    t = pq.read_table(f"{sf_dir}/embeddings.parquet").slice(0, n).to_pandas()
    t["vec_id"] = range(first_id, first_id + n)
    part = os.path.join(store, "embeddings.parquet")
    pq.write_table(pa.Table.from_pandas(t, preserve_index=False), os.path.join(part, f"_{name}"))
    os.rename(os.path.join(part, f"_{name}"), os.path.join(part, name))


def _destinations(eng, anchor: str) -> set:
    nodes, edges = eng.neighborhood_graph(anchor, -100.0, 100.0)
    return {r.destino for r in edges.collect()}


def test_appends_reach_the_next_neighborhood_and_facet(spark, tmp_path, sf_dir):
    store = _vector_store(tmp_path, sf_dir)
    eng = ProvidenciasEngine(spark, store)
    before = _destinations(eng, "P-7")
    assert len(before) == 499 and "added" not in eng.facet_options("tipo")
    _append_vectors(store, sf_dir, "part-1.parquet", 10_000, 8)
    _append(store, sf_dir, "part-1.parquet", 10_000, 3, "added")
    assert _destinations(eng, "P-7") == before | {f"P-{i}" for i in range(10_000, 10_008)}
    # P-10007 is a copy of P-7: its edge to it is the self-similarity
    hits = eng.similarity_neighborhood("P-10007", 99.9999, 100.0).collect()
    assert [r.destino for r in hits] == ["P-7"]
    assert "added" in eng.facet_options("tipo")
    eng.release()


def test_each_version_builds_its_block_once(spark, tmp_path, sf_dir, monkeypatch):
    from providenciasbigdata_spark import engine as engine_mod

    builds = []
    build = engine_mod._vector_block

    def counted(emb):
        builds.append(emb)
        return build(emb)

    monkeypatch.setattr(engine_mod, "_vector_block", counted)
    store = _vector_store(tmp_path, sf_dir)
    eng = ProvidenciasEngine(spark, store)
    assert builds == []  # nothing is built before a request needs it
    eng.facet_options("tipo")
    eng.query_rulings(tipo="src3").collect()
    assert builds == []
    params = {"providencia": "P-3", "rango_min": 20.0, "rango_max": 100.0}
    with ThreadPoolExecutor(4) as pool:
        list(pool.map(lambda a: _destinations(eng, f"P-{a}"), range(8)))
    eng.run_cypher(_CYPHER, params).collect()
    eng.edges(anchor_vec_id=5).collect()
    eng.nearest_neighbors([1.0] * 64, k=3, approx=True).collect()
    assert len(builds) == 1
    _append_vectors(store, sf_dir, "part-1.parquet", 10_000, 2)
    eng.run_cypher(_CYPHER, params).collect()
    _destinations(eng, "P-3")
    assert len(builds) == 2
    eng.release()


def test_release_and_collection_free_the_driver_state(spark, tmp_path, sf_dir):
    eng = ProvidenciasEngine(spark, _store(tmp_path, sf_dir))
    eng.facet_options("tipo")
    _destinations(eng, "P-7")
    held = [weakref.ref(v) for v in eng._versions.values()]
    held.append(weakref.ref(eng._embeddings_version().derived("block", None)))
    assert len(held) == 3 and all(r() is not None for r in held)
    eng.release()
    gc.collect()
    assert all(r() is None for r in held)
    # the engine serves again after a release, and collection frees it
    assert len(_destinations(eng, "P-7")) == 499 and eng.facet_options("tipo")
    held = [weakref.ref(v) for v in eng._versions.values()]
    held.append(weakref.ref(eng._embeddings_version().derived("block", None)))
    del eng
    gc.collect()
    assert all(r() is None for r in held)


def test_a_returned_domain_is_the_callers_copy(spark, tmp_path, sf_dir):
    eng = ProvidenciasEngine(spark, _store(tmp_path, sf_dir))
    tipos = eng.facet_options("tipo")
    want = list(tipos)
    tipos.append("mutated")
    tipos.sort(reverse=True)
    assert eng.facet_options("tipo") == want
    eng.release()


def test_readers_of_derived_state_see_the_old_or_the_new_version(spark, tmp_path, sf_dir):
    store = _vector_store(tmp_path, sf_dir)
    eng = ProvidenciasEngine(spark, store)
    old_tipos = eng.facet_options("tipo")
    old_dsts = _destinations(eng, "P-7")
    new_tipos = sorted([*old_tipos, "added"])
    new_dsts = old_dsts | {"P-10000", "P-10001"}
    seen, errors = [], []
    go = threading.Barrier(5)

    def reader():
        try:
            go.wait()
            for _ in range(3):
                seen.append(("tipo", eng.facet_options("tipo")))
                seen.append(("dsts", _destinations(eng, "P-7")))
        except Exception as exc:  # surfaced by the assert below
            errors.append(exc)

    threads = [threading.Thread(target=reader) for _ in range(4)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for t in threads:
            t.start()
        go.wait()
        _append(store, sf_dir, "part-1.parquet", 10_000, 2, "added")
        _append_vectors(store, sf_dir, "part-1.parquet", 10_000, 2)
        for t in threads:
            t.join(timeout=300)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads) and not errors
    assert len(seen) == 24
    for kind, got in seen:
        assert got in ((old_tipos, new_tipos) if kind == "tipo" else (old_dsts, new_dsts))
    assert eng.facet_options("tipo") == new_tipos and _destinations(eng, "P-7") == new_dsts
    eng.release()
