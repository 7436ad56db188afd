"""The engine facade: one object exposing every capability a user of
the reference app (SebastianUs28/providenciasBigData) uses today, plus
the pipeline extensions — so switching is construct-and-call.

Reference page 1 ("Resultados de los Filtros", streamlit_app.py:109-148)
maps to ``facet_options`` + ``query_rulings``; page 2 ("Filtrar por
Similitudes", streamlit_app.py:150-177) maps to ``node_ids`` +
``similarity_neighborhood``. Connection config is constructor
parameters — never hardcoded credentials (the reference embeds live
URIs at streamlit_app.py:9,14; see SURVEY.md §0.1).

Requests read a resident snapshot, as the reference's two servers keep
their text index and graph resident: the engine holds one persisted
version of each source it serves from, the rulings view with its
``tokens`` and the embeddings. The first request fills the cache; later
requests plan against the in-memory relation and never scan or
tokenize the files again. A version is keyed by its source's file
listing (relative path, size, mtime). When the listing changes, the
next request builds version v+1 under a lock, swaps it in and
unpersists v; a frame a caller already holds from v still answers,
from v+1's cache when their plans match, else through its lineage.
``release()`` frees the snapshot, and so does garbage collection.
Offline passes (``deduplicate``) read the tables directly.

Each version also carries driver state derived from it, built by the
first request that needs it and dropped with the version: the sorted
domain of each facet field asked for (``facet_options`` is then a
lookup), and the embeddings as a ``compat.graph.VectorBlock`` when the
version has at most ``similarity._DRIVER_MAX_ROWS`` rows. Anchored
edge reads (``edges(anchor_vec_id=...)``, the neighborhoods and the
one-hop route of ``run_cypher``) then run the numpy kernel over the
block and read its row as a local relation, with no Spark job. The
full edge build (``edges()``, one frame per version) scores its pairs
with the same kernel, through an Arrow UDF over a cross join that keeps
a filter on ``src`` or ``dst`` below the join. Above the gate both keep
the Catalyst plans over the snapshot.

A rulings version of at most ``_DRIVER_MAX_DOCS`` rows also carries its
document block: the view collected once into one Arrow table (about
1.2 kB a ruling, so 6 MB at 5,000 rulings and 60 MB at the gate). The
Mongo reads answer over it with the driver evaluator of
``compat/ir.py`` and run no Spark job: ``count_documents`` sums a mask
and makes no gateway call, ``distinct`` and ``find_one`` return Python
values, and ``query_mongo`` returns one local relation with the Spark
plan's schema. The block answers filter documents of equality and
implicit AND, ``$in``/``$nin``/``$ne``/``$exists``/``$not``, the range
operators, ``$and``/``$or`` and unstemmed ``$text`` bare terms and
negations, over the view's string and integer fields, with plain
include/exclude projections and sorts by fields. Every other document
(``$regex``, ``$expr``, ``$geoWithin``, array operators, ``$text``
phrases or stemming, a ``$meta`` or ``$slice`` projection, an operand
of another type than its field's, any malformed one) keeps its Catalyst
plan, as do the versions above the gate.

``query_rulings`` answers from the block too: the cascade's predicates
(``compat.documents.cascade_predicates``) become one filter document
(``compat.ir.cascade_filter``), and the matching rows come back as one
``session.LocalFrame``, whose ``collect``/``toPandas`` read its Arrow
table and make no gateway call. A stemmed texto match, a ``$text``
phrase, an operand the block leaves to Spark and the versions above
the gate keep the Catalyst cascade. The block's pages are snapshots:
a ``query_mongo`` or ``query_rulings`` frame held across a version
swap returns its own version's rows.
"""

from __future__ import annotations

import os
import re
import threading
from collections.abc import Callable

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from providenciasbigdata_spark import multimodal, streaming
from providenciasbigdata_spark.compat import documents as _docs
from providenciasbigdata_spark.compat import graph as _graph
from providenciasbigdata_spark.io import load_table
from providenciasbigdata_spark.operators import dedup, similarity
from providenciasbigdata_spark.session import collect_below, local_frame, unpersist_on_collect

# schema of a rulings mongodump read through the mongodump DataSource
_DUMP_SCHEMA = "_id string, providencia string, tipo string, anio int, texto string"
# a node id that names an embedding: "P-<vec_id>", vec_id a bigint
_NODE_ID = re.compile(r"P-(0|[1-9][0-9]{0,17})")
# WHERE atoms that read no edge beyond the matched hop's own
_HOP_LOCAL_CONDS = {"cmp", "in", "bare", "expr_cond"}
# the most rulings a version holds as a driver-side document block
# (about 60 MB: 1.2 kB a ruling, measured on the benchmark's corpus)
_DRIVER_MAX_DOCS = 50_000


def _listing(path: str) -> tuple:
    """A source's version key: (relative path, size, mtime) of each data
    file at ``path``, skipping the ``_``/``.`` names Spark skips."""
    if os.path.isfile(path):
        files = [path]
    else:
        files = []
        for root, dirs, names in os.walk(path):
            dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
            files += [os.path.join(root, n) for n in names if not n.startswith(("_", "."))]
    key = []
    for f in files:
        try:
            st = os.stat(f)
        except FileNotFoundError:  # removed since the walk
            continue
        key.append((os.path.relpath(f, path), st.st_size, st.st_mtime_ns))
    return tuple(sorted(key))


class _Version:
    """One resident version of a source: its persisted frame and the
    driver state derived from it, each piece built at most once."""

    def __init__(self, key: tuple, frame: DataFrame):
        self.key, self.frame = key, frame
        self._lock = threading.Lock()
        self._derived: dict = {}

    def derived(self, name, build: Callable[[DataFrame], object]):
        """The state ``name`` of this version: ``build(frame)``, run by
        the first caller only (the others wait for it)."""
        with self._lock:
            if name not in self._derived:
                self._derived[name] = build(self.frame)
            return self._derived[name]


def _vector_block(emb: DataFrame) -> _graph.VectorBlock | None:
    """The embeddings collected once into a block, or None above the
    driver gate (the anchored reads then run in Spark): one action,
    ``collect_below``, decides and collects. A gate of 0 keeps every
    version, an empty one too, in Spark."""
    table = collect_below(emb.select("vec_id", "embedding"), similarity._DRIVER_MAX_ROWS)
    return None if table is None else _graph.VectorBlock(table)


def _document_block(rulings: DataFrame) -> pa.Table | None:
    """The rulings collected once into one Arrow table, or None above
    the driver gate (the Mongo reads then run in Spark)."""
    table = collect_below(rulings, _DRIVER_MAX_DOCS)
    return None if table is None else table.combine_chunks()


def _hop_anchor(query: str, params: dict) -> str | None:
    """The anchor whose outgoing edges are all the edges ``query``
    reads: the value of ``$p`` when the query is one MATCH of a single
    outgoing SIMILAR hop from a node bound by ``{id: $p}``, with WHERE
    atoms on that hop and its nodes only. None for any other shape."""
    from providenciasbigdata_spark.compat.cypher import CypherUnsupported, parse, split_union

    if len(split_union(" ".join(query.split()))[0]) != 1:
        return None
    try:
        segments = parse(query)["segments"]
    except CypherUnsupported:
        return None
    if len(segments) != 1 or segments[0]["unwind"] or len(segments[0]["matches"]) != 1:
        return None
    seg = segments[0]
    match = seg["matches"][0]
    pattern = match["pattern"]
    if len(pattern) != 2 or pattern[0]["anchor_param"] is None:
        return None
    rel = pattern[1][0]
    if rel["dir"] != ">" or rel["varlen"] is not None:
        return None
    if any(c[0] not in _HOP_LOCAL_CONDS for c in match["where"] + seg["post_where"]):
        return None
    anchor = params.get(pattern[0]["anchor_param"])
    return anchor if isinstance(anchor, str) else None


class ProvidenciasEngine:
    """Facade over the document + graph query surfaces.

    Parameters
    ----------
    spark : the session (build with session.get_spark for tuned defaults)
    data_dir : directory holding the parquet tables (documents, embeddings)
    """

    def __init__(self, spark: SparkSession, data_dir: str):
        self.spark = spark
        self.data_dir = data_dir
        self._dump_dir: str | None = None
        self._lock = threading.Lock()
        self._versions: dict[str, _Version] = {}
        # the versions' frames, for unpersist_on_collect
        self._frames: dict[str, DataFrame] = {}
        unpersist_on_collect(self, self._frames)

    @classmethod
    def from_mongodump(
        cls, spark: SparkSession, dump_dir: str, data_dir: str = ""
    ) -> "ProvidenciasEngine":
        """Engine over an exported Mongo collection (mongoexport
        Extended-JSON, read through the custom Python DataSource in
        datasources.py) — the reference's production data path
        (streamlit_app.py:19-22) without a live server. Document
        queries run against the dump; graph queries still need the
        embeddings table, so pass ``data_dir`` if you use them. The
        mongodump format is registered here, once; requests never touch
        the session configuration."""
        from providenciasbigdata_spark import datasources

        datasources.register(spark)
        eng = cls(spark, data_dir)
        eng._dump_dir = dump_dir
        return eng

    # -- sources: the resident snapshot ----------------------------------

    def _resident(self, name: str, path: str, build: Callable[[], DataFrame]) -> _Version:
        """The version of source ``name`` for the current listing of
        ``path``: the held one, or, when the listing has changed, a new
        one swapped in for it (its derived state goes with the old)."""
        key = _listing(path)
        with self._lock:
            version = self._versions.get(name)
            if version is not None and version.key == key:
                return version
            # the old version goes first: a re-read of the same directory
            # plans the same as v, and Spark would hand v's cache to v+1
            old = self._frames.pop(name, None)
            if old is not None:
                old.unpersist()
            version = _Version(key, build().persist())
            self._versions[name], self._frames[name] = version, version.frame
            return version

    def release(self) -> None:
        """Unpersist the snapshot and drop its driver state now; the next
        request builds them again. Frames already handed out still
        answer, through their lineage."""
        with self._lock:
            for frame in self._frames.values():
                frame.unpersist()
            self._frames.clear()
            self._versions.clear()

    def _table(self, name: str) -> DataFrame:
        return load_table(self.spark, self.data_dir, name)

    def rulings(self) -> DataFrame:
        return self._rulings_version().frame

    def _rulings_version(self) -> _Version:
        if self._dump_dir is not None:
            return self._resident("rulings", self._dump_dir, self._dump_rulings)
        return self._resident(
            "rulings",
            os.path.join(self.data_dir, "documents.parquet"),
            lambda: _docs.rulings_view(self._table("documents")),
        )

    def _dump_rulings(self) -> DataFrame:
        from providenciasbigdata_spark import datasources

        docs = (
            self.spark.read.format(datasources.FORMAT_NAME)
            .schema(_DUMP_SCHEMA)
            .load(self._dump_dir)
        )
        return docs.select(
            F.split(F.col("providencia"), "-")[1].cast("long").alias("doc_id"),
            "providencia",
            "tipo",
            "anio",
            "texto",
            _docs.tokenize(F.col("texto")).alias("tokens"),
        )

    def _embeddings_version(self) -> _Version:
        return self._resident(
            "embeddings",
            os.path.join(self.data_dir, "embeddings.parquet"),
            lambda: self._table("embeddings"),
        )

    def nodes(self) -> DataFrame:
        return _graph.nodes_view(self.rulings())

    def edges(self, anchor_vec_id: int | None = None) -> DataFrame:
        """edges(src, dst, similitud); with ``anchor_vec_id``, that
        vector's outgoing edges only. Below the gate both come from the
        version's block: the anchor's kernel row, or the full build
        (one frame per version) whose pairs the block kernel scores."""
        emb = self._embeddings_version()
        block = emb.derived("block", _vector_block)
        if block is None:
            return _graph.build_similarity_edges(emb.frame, anchor_vec_id=anchor_vec_id)
        if anchor_vec_id is not None:
            return _graph.anchored_edges(self.spark, block, anchor_vec_id)
        return emb.derived("edges", lambda _: _graph.block_edges(self.spark, block))

    def _edges_from(self, anchor: str) -> DataFrame:
        """The edges an anchored read can reach: the anchor's outgoing
        ones, or none when it names no node."""
        m = _NODE_ID.fullmatch(anchor)
        if m is None:
            return self.edges().where(F.lit(False))  # planned away, never run
        return self.edges(anchor_vec_id=int(m.group(1)))

    # -- page 1: facets + text search ------------------------------------

    def facet_options(self, field: str) -> list:
        """Selectbox domains (reference streamlit_app.py:125-131),
        computed once per rulings version."""
        domain = self._rulings_version().derived(
            ("facet", field),
            lambda rulings: tuple(r[0] for r in _docs.distinct_values(rulings, field).collect()),
        )
        return list(domain)

    def query_rulings(
        self,
        providencia: str | None = None,
        tipo: str | None = None,
        anio: int | str | None = None,
        texto: str | None = None,
        conjunctive: bool = False,
        stem: bool = False,
    ) -> DataFrame:
        """The reference's filter dispatch (exclusive cascade by
        default; ``conjunctive=True`` for the AND extension;
        ``stem=True`` for Spanish-stemmed texto matching). From the
        document block the result is one local frame of the version's
        matching rows, and the first such request of a version builds
        the block; a stemmed texto match (which builds no block) or a
        ``$text`` phrase keeps the Catalyst plan."""
        from providenciasbigdata_spark.compat import ir as _ir

        predicates = _docs.cascade_predicates(providencia, tipo, anio, texto, conjunctive)
        version = self._rulings_version()
        block = None
        if not (stem and "texto" in predicates):
            block = version.derived("documents", _document_block)
        query = None if block is None else _ir.cascade_filter(predicates)
        page = None if query is None else _ir.find_block(block, query)
        if page is not None:
            return local_frame(self.spark, page)
        return _docs.apply_cascade(version.frame, predicates, stem=stem)

    def query_rulings_frame(self, **kwargs):
        """Presentation edge: pandas frame with the reference's
        drop-storage-key + empty-sentinel behavior (A12)."""
        return _docs.to_result_frame(self.query_rulings(**kwargs))

    # -- literal reference IR (compat/ir.py) ------------------------------

    def _documents(self) -> tuple[DataFrame, pa.Table | None]:
        """The rulings version's frame and its document block (None
        above the gate)."""
        version = self._rulings_version()
        return version.frame, version.derived("documents", _document_block)

    def _find(self, query, projection, sort, limit, default_language) -> DataFrame | pa.Table:
        """``mql_find``'s answer: an Arrow table from the block when it
        answers, else the Catalyst plan."""
        from providenciasbigdata_spark.compat import ir as _ir

        rulings, block = self._documents()
        cursor = {
            "projection": projection, "sort": sort, "limit": limit,
            "default_language": default_language,
        }
        page = None if block is None else _ir.find_block(block, query, **cursor)
        return _ir.mql_find(rulings, query, **cursor) if page is None else page

    def query_mongo(
        self, query: dict, projection: dict | None = None, sort=None,
        limit: int | None = None, default_language: str = "none",
    ) -> DataFrame:
        """``collection.find(query)`` with the reference's own MQL
        filter documents (streamlit_app.py:31-32,137-148) — paste the
        dict, get the DataFrame. The keyword args are the pymongo
        cursor surface (``compat.ir.mql_find``). From the document
        block the page is one local relation."""
        page = self._find(query, projection, sort, limit, default_language)
        return local_frame(self.spark, page) if isinstance(page, pa.Table) else page

    def aggregate_mongo(self, pipeline: list, **kwargs) -> DataFrame:
        """``collection.aggregate(pipeline)`` — the facet-counting
        surface one step beyond the reference's find() calls.
        ``collections=`` names the $lookup-able collection namespace."""
        from providenciasbigdata_spark.compat.ir import mql_aggregate

        return mql_aggregate(self.rulings(), pipeline, **kwargs)

    def find_one(
        self, query: dict, projection: dict | None = None, sort=None,
        default_language: str = "none",
    ) -> dict | None:
        """``collection.findOne(query)`` — the first matching document
        as a plain dict, or None (pymongo's contract). Without a
        ``sort`` kwarg, "first" is UNSPECIFIED in Mongo too (B5); pass
        ``sort=`` for a deterministic pick. The limit is pushed into
        the plan (CollectLimit 1), never a full materialization; from
        the document block the dict comes straight from Arrow."""
        page = self._find(query, projection, sort, 1, default_language)
        if isinstance(page, pa.Table):
            return page.to_pylist()[0] if page.num_rows else None
        row = page.first()
        return row.asDict() if row is not None else None

    def count_documents(self, query: dict, default_language: str = "none") -> int:
        """``collection.countDocuments(filter)`` — returns the scalar,
        like pymongo (the 1-row frame is an implementation detail)."""
        from providenciasbigdata_spark.compat import ir as _ir

        rulings, block = self._documents()
        mask = None if block is None else _ir.query_mask(block, query, default_language)
        if mask is not None:
            return int(mask.sum())
        return _ir.mql_count_documents(rulings, query, default_language).first()["n"]

    def distinct(
        self, field: str, query: dict | None = None, default_language: str = "none"
    ) -> list:
        """``collection.distinct(field, filter)`` — sorted value list,
        like pymongo (the reference's A2 facet scans are the no-filter
        form; ``facet_options`` keeps the legacy name)."""
        from providenciasbigdata_spark.compat import ir as _ir

        rulings, block = self._documents()
        values = None if block is None else _ir.distinct_block(block, field, query, default_language)
        if values is not None:
            return values
        return [
            r[field]
            for r in _ir.mql_distinct(rulings, field, query, default_language).collect()
        ]

    def run_cypher(self, query: str, params: dict | None = None) -> DataFrame:
        """Run the reference's Cypher templates verbatim
        (streamlit_app.py:50,60-64) against the derived graph. A single
        outgoing hop from an anchor bound by ``{id: $p}`` reads only
        that anchor's edges; every other shape reads all of them."""
        from providenciasbigdata_spark.compat.ir import cypher_run

        anchor = _hop_anchor(query, params or {})
        return cypher_run(
            query,
            nodes=self.nodes(),
            edges=self.edges() if anchor is None else self._edges_from(anchor),
            params=params,
        )

    # -- page 2: similarity graph ----------------------------------------

    def node_ids(self) -> list[str]:
        """Graph selectbox domain (reference streamlit_app.py:159-164)."""
        return [r.id for r in _graph.list_nodes(self.nodes()).collect()]

    def similarity_neighborhood(
        self, anchor: str, lo: float = 0.0, hi: float = 100.0
    ) -> DataFrame:
        """Anchored 1-hop expansion, weight in [lo, hi] inclusive
        (reference streamlit_app.py:60-64). Anchored edge build is
        O(n): only the anchor's outgoing cosines are computed. An
        anchor that names no node has no edges."""
        return _graph.neighborhood(self._edges_from(anchor), anchor, lo, hi)

    def neighborhood_graph(self, anchor: str, lo: float = 0.0, hi: float = 100.0):
        """(nodes_df, edges_df) for rendering — includes the singleton
        fallback (A14: the anchor renders even with zero edges). The
        anchored read runs once: below the gate as one local relation
        rounded and filtered by Spark (no Spark job), above it as the
        Catalyst neighborhood. Both frames are built from its collected
        rows, through Arrow."""
        m = _NODE_ID.fullmatch(anchor)
        block = None
        if m is not None:
            block = self._embeddings_version().derived("block", _vector_block)
        if block is not None:
            dst, sim = _graph.anchored_neighborhood(self.spark, block, int(m.group(1)), lo, hi)
            src = [anchor] * len(dst)
        else:
            rows = self.similarity_neighborhood(anchor, lo, hi).collect()
            src, dst, sim = ([r[i] for r in rows] for i in range(3))
        nodes = _graph.neighborhood_nodes({"origen": src, "destino": dst}, anchor)
        hits = pa.table({
            "origen": pa.array(src, pa.string()),
            "destino": pa.array(dst, pa.string()),
            "similitud": pa.array(sim, pa.float64()),
        })
        return (
            local_frame(self.spark, pa.table({"id": pa.array(nodes, pa.string())})),
            local_frame(self.spark, hits),
        )

    # -- pipeline extensions ----------------------------------------------

    def deduplicate(self, method: str = "exact", **kwargs) -> DataFrame:
        docs = self._table("documents")  # offline: a direct read, not the snapshot
        if method == "exact":
            return dedup.dedup_exact(docs, **kwargs)
        if method == "minhash":
            return dedup.minhash_near_dups(docs, **kwargs)
        if method == "simhash":
            return dedup.simhash_near_dups(dedup.simhash(docs), **kwargs)
        if method == "jaccard":
            return dedup.jaccard_pairs(docs, **kwargs)
        raise ValueError(f"unknown dedup method: {method!r}")

    def nearest_neighbors(self, query_vec, k: int = 10, approx: bool = False) -> DataFrame:
        """Cosine top-k (vec_id, score); ``approx=True`` probes SRP-LSH
        buckets, of the block's width below the gate. No embeddings =>
        the empty (vec_id, score) frame."""
        emb = self._embeddings_version()
        dim = None
        if approx:
            block = emb.derived("block", _vector_block)
            if block is not None:
                dim = block.dim
            else:
                first = emb.frame.select("embedding").first()
                dim = None if first is None else len(first.embedding)
        if not dim:
            return similarity.brute_force_topk(emb.frame, query_vec, k=k)
        return similarity.srp_lsh_topk(emb.frame, query_vec, dim=dim, k=k)

    def events_stream(self, events_dir: str, **kwargs) -> DataFrame:
        return streaming.events_stream(self.spark, events_dir, **kwargs)

    def rulings_stream(self, dump_dir: str | None = None) -> DataFrame:
        """The collection as a STREAM: tail a mongoexport dump spool
        through the streaming Python DataSource (datasources.
        MongoDumpStreamReader — consumed-file offsets, deterministic
        replay). Pass ``dump_dir``, or construct the engine with
        ``from_mongodump`` and omit it. Returns a streaming DataFrame
        with the collection schema; compose any batch transform that
        streaming supports on top."""
        target = dump_dir or self._dump_dir
        if target is None:
            raise ValueError(
                "rulings_stream needs a dump_dir (or an engine built "
                "with from_mongodump)"
            )
        from providenciasbigdata_spark import datasources

        if self._dump_dir is None:
            # a from_mongodump engine registered the format at construction
            datasources.register(self.spark)
        return (
            self.spark.readStream.format(datasources.FORMAT_NAME)
            .schema(_DUMP_SCHEMA)
            .load(target)
        )

    def media_features(self, assets: DataFrame, modality: str = "image") -> DataFrame:
        if modality == "image":
            return multimodal.decode_image_features(assets)
        if modality == "audio":
            return multimodal.decode_audio_features(assets)
        raise ValueError(f"unknown modality: {modality!r}")
