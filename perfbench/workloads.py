"""The three workloads: reference-page traffic, live corpus refresh and
the offline graph + index build.

Each workload writes its inputs from the seed when constructed, builds
its serving state and oracle in ``setup`` (timed and repeated by the
runner), warms up once (``warmup``) and then runs its loop
(``measure``). Every answer is checked against the oracle; a call that
raises or answers wrongly is one failed operation and never stops the
run.
"""

from __future__ import annotations

import itertools
import os
import shutil
import sys
import threading
import time
import traceback
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

import numpy as np

import datagen
import measure
import oracle

CYPHER = (
    "MATCH (a:Providencia {id: $providencia})-[r:SIMILAR]->(b:Providencia) "
    "WHERE r.similitud >= $rango_min AND r.similitud <= $rango_max "
    "RETURN a.id AS origen, b.id AS destino, r.similitud AS similitud"
)
HI = 100.0
ZIPF_S = 1.1
# vocabulary ranks queries draw terms from: each is in 1-4% of the
# documents, so a seed's hot terms cost about what another seed's do
TERM_RANKS = (150, 600)


@dataclass(slots=True)
class Op:
    """One timed operation and its outcome (``err`` is None when it
    answered correctly)."""

    kind: str
    start: float
    end: float
    err: str | None

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1e3


class Log:
    """Thread-safe operation log; prints the first few failures."""

    def __init__(self):
        self.ops: list[Op] = []
        self.failed = 0
        self._lock = threading.Lock()
        self._ids = itertools.count(1)

    def run(self, kind: str, fn, tr, jobs) -> Op:
        """Time ``fn`` (which returns None or an error text) as one op."""
        with self._lock:
            op_id = next(self._ids)
        start = time.perf_counter()
        try:
            with jobs.group(f"op{op_id}", kind), tr.span(f"op.{kind}", op=op_id):
                err = fn()
        except Exception as e:  # a failed operation, never a failed run
            err = f"{type(e).__name__}: {e}"
            if self.failed < 3:
                traceback.print_exc(file=sys.stderr)
        op = Op(kind, start, time.perf_counter(), err)
        with self._lock:
            self.ops.append(op)
            if err:
                self.failed += 1
                if self.failed <= 5:
                    print(f"perfbench: {kind} failed: {err}", file=sys.stderr)
        return op


class Zipf:
    """Rank-skewed picks over a list: a few values are hot."""

    def __init__(self, items, s: float = ZIPF_S):
        self.items = list(items)
        p = np.arange(1, len(self.items) + 1, dtype=np.float64) ** -s
        self.p = p / p.sum()

    def __call__(self, rng: np.random.Generator):
        return self.items[int(rng.choice(len(self.items), p=self.p))]


def _rows_set(pdf, col: str) -> set:
    from providenciasbigdata_spark.compat.documents import EMPTY_SENTINEL_COLUMN

    return set() if EMPTY_SENTINEL_COLUMN in pdf.columns else set(pdf[col])


def _closed_loop(n_clients: int, seconds: float, client_fn) -> None:
    """Run ``client_fn(i, stop)`` on ``n_clients`` threads; ``stop`` is
    set after ``seconds``, and each client finishes its current op."""
    stop = threading.Event()
    timer = threading.Timer(seconds, stop.set)
    with ThreadPoolExecutor(n_clients) as pool:
        timer.start()
        try:
            for f in [pool.submit(client_fn, i, stop) for i in range(n_clients)]:
                f.result()
        finally:
            timer.cancel()
            stop.set()


def _parallel(n: int, fns) -> None:
    """Run the calls on ``n`` threads and wait for all of them."""
    with ThreadPoolExecutor(n) as pool:
        for f in [pool.submit(fn) for fn in fns]:
            f.result()


# ---------------------------------------------------------------- interactive


class Interactive:
    """Four closed-loop clients on one ``ProvidenciasEngine``: facet and
    text filters (page 1), anchored similarity neighborhoods (page 2)
    and BM25 search. An op is one request, rows delivered."""

    clients = 4
    # one client's request cycle: page-1 lookups dominate, as on the
    # reference app, so the median request is a page-1 one. The order
    # is fixed and each client starts at another point of it, so the
    # mix inside a short run does not depend on the seed.
    cycle = (
        "query_rulings", "neighborhood_graph", "query_mongo", "count_documents",
        "query_rulings", "bm25_search", "facet_options", "query_mongo",
        "query_rulings", "run_cypher", "count_documents",
    )

    n_docs, n_vectors = 5000, 2000  # the fixtures' sf0.1 sizes

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.corpus = datagen.make_corpus(seed, self.n_docs, self.n_vectors)
        self.data_dir = os.path.join(work, "data")
        datagen.write_tables(self.corpus, self.data_dir)
        c = self.corpus
        rng = np.random.default_rng([seed, 1])
        self.pick_doc = Zipf(rng.permutation(len(c.doc_id)))
        self.pick_anchor = Zipf(rng.permutation(len(c.vec_id)))
        self.pick_tipo = Zipf(rng.permutation(sorted(set(c.source))))
        self.pick_anio = Zipf(rng.permutation(25) + 2000)
        self.pick_term = Zipf(rng.permutation(c.vocab[TERM_RANKS[0] : TERM_RANKS[1]]))
        self.sizes = {"docs": len(c.doc_id), "vectors": len(c.vec_id)}

    def setup(self, spark, tr) -> None:
        from providenciasbigdata_spark.engine import ProvidenciasEngine
        from providenciasbigdata_spark.operators import postings

        self.eng = ProvidenciasEngine(spark, self.data_dir)
        with tr.span("operators.postings.build_bm25_index"):
            self.idx = postings.build_bm25_index(self.eng.rulings())
        self.docs = oracle.Docs(self.corpus)
        self.bm25 = oracle.Bm25(self.docs)
        ids = self.docs.ids
        self.facets = {
            "providencia": sorted(f"P-{d}" for d in ids),
            "tipo": sorted(set(self.docs.tipo)),
            "anio": sorted({oracle.anio(d) for d in ids}),
        }
        self._sims: dict[int, np.ndarray] = {}
        self._sims_lock = threading.Lock()

    def warmup(self, log: Log, tr, jobs) -> None:
        rng = np.random.default_rng([self.seed, 99])
        kinds = sorted(set(self.cycle))
        calls = [self.request(kind, 0, rng, tr) for kind in kinds]
        _parallel(self.clients, [
            lambda kind=kind, call=call: log.run(kind, call, tr, jobs)
            for kind, call in zip(kinds, calls)
        ])

    def measure(self, seconds: float, log: Log, tr, jobs) -> tuple[list[Op], None]:
        mine: list[list[Op]] = [[] for _ in range(self.clients)]
        n = len(self.cycle)

        def client(i, stop):
            rng = np.random.default_rng([self.seed, 2, i])
            seen: dict[str, int] = {}
            k = i * n // self.clients
            while not stop.is_set():
                kind = self.cycle[k % n]
                seen[kind] = seen.get(kind, -1) + 1
                mine[i].append(log.run(kind, self.request(kind, seen[kind], rng, tr), tr, jobs))
                k += 1

        _closed_loop(self.clients, seconds, client)
        return [o for ops in mine for o in ops], None

    def extra_report(self, _) -> dict:
        return {}

    def _anchor_sims(self, a: int) -> np.ndarray:
        with self._sims_lock:
            if a not in self._sims:
                self._sims[a] = oracle.cosine100(self.corpus.embedding, a)
            return self._sims[a]

    def request(self, kind: str, nth: int, rng: np.random.Generator, tr):
        """Draw the parameters of a client's ``nth`` request of ``kind``;
        return its call-and-check. Which field a request filters on
        rotates with ``nth``; the values are Zipf draws."""
        from providenciasbigdata_spark.compat import documents as docs_mod
        from providenciasbigdata_spark.operators import postings

        eng, d = self.eng, self.docs
        if kind == "facet_options":
            field = ("tipo", "anio", "tipo", "providencia")[nth % 4]

            def call():
                with tr.span("engine.facet_options"):
                    got = eng.facet_options(field)
                return None if got == self.facets[field] else f"facet {field}: wrong domain"

            return call
        if kind == "query_rulings":
            field = ("texto", "tipo", "providencia", "anio")[nth % 4]
            value = self._value(field, rng)

            def call():
                with tr.span("engine.query_rulings.plan"):
                    df = eng.query_rulings(**{field: value})
                with tr.span("compat.documents.to_result_frame"):
                    pdf = docs_mod.to_result_frame(df)
                want = {f"P-{i}" for i in d.filter_ids(field, value)}
                got = _rows_set(pdf, "providencia")
                if got == want and (len(pdf) == len(want) or not want):
                    return None
                return f"query_rulings {field}={value!r}: {len(pdf)} rows, expected {len(want)}"

            return call
        if kind == "query_mongo":
            if nth % 2:
                field, value = "tipo", self.pick_tipo(rng)
                q = {"tipo": value}
            else:
                field, value = "texto", self.pick_term(rng)
                q = {"$text": {"$search": value}}

            def call():
                with tr.span("engine.query_mongo.plan"):
                    df = eng.query_mongo(
                        q, projection={"providencia": 1, "anio": 1},
                        sort=[("anio", -1), ("providencia", 1)], limit=10,
                    )
                with tr.span("engine.query_mongo.exec"):
                    rows = [(r["providencia"], r["anio"]) for r in df.collect()]
                ids = d.filter_ids(field, value)
                want = sorted(((f"P-{i}", oracle.anio(i)) for i in ids), key=lambda t: (-t[1], t[0]))[:10]
                return None if rows == want else f"query_mongo {q}: wrong page"

            return call
        if kind == "count_documents":
            if nth % 2 == 0:
                y = int(self.pick_anio(rng))
                q = {"anio": {"$gte": y}}
                want = sum(oracle.anio(i) >= y for i in d.ids)
            else:
                ts = sorted({self.pick_tipo(rng), self.pick_tipo(rng)})
                q = {"tipo": {"$in": ts}}
                want = sum(d.tipo[i] in ts for i in d.ids)

            def call():
                with tr.span("engine.count_documents"):
                    n = eng.count_documents(q)
                return None if n == want else f"count_documents {q}: {n}, expected {want}"

            return call
        if kind in ("neighborhood_graph", "run_cypher"):
            a = int(self.pick_anchor(rng))
            anchor, lo = f"P-{a}", round(float(rng.uniform(20.0, 40.0)), 2)

            def call():
                if kind == "neighborhood_graph":
                    with tr.span("engine.neighborhood_graph.plan"):
                        nodes, hits = eng.neighborhood_graph(anchor, lo, HI)
                    with tr.span("compat.graph.neighborhood.exec"):
                        edges = hits.collect()
                        ids = {r["id"] for r in nodes.collect()}
                else:
                    with tr.span("engine.run_cypher.plan"):
                        df = eng.run_cypher(
                            CYPHER, {"providencia": anchor, "rango_min": lo, "rango_max": HI}
                        )
                    with tr.span("engine.run_cypher.exec"):
                        edges = df.collect()
                    ids = None
                if any(r["origen"] != anchor for r in edges):
                    return f"{kind} {anchor}: edge from another node"
                got = {r["destino"]: r["similitud"] for r in edges}
                if len(got) != len(edges):
                    return f"{kind} {anchor}: duplicate edges"
                err = oracle.check_edges(got, self._anchor_sims(a), a, lo, HI)
                if err is None and ids is not None and ids != {anchor, *got}:
                    err = f"{kind} {anchor}: node set differs from the anchor plus its edges"
                return err

            return call
        if kind == "bm25_search":
            terms = [self.pick_term(rng) for _ in range(1 + nth % 3)]

            def call():
                with tr.span("operators.postings.bm25_search.plan"):
                    df = postings.bm25_search(self.idx, terms, k=10)
                with tr.span("operators.postings.bm25_search.exec"):
                    rows = [(r["doc_id"], r["score"]) for r in df.collect()]
                return self.bm25.check_top(rows, terms, 10)

            return call
        raise ValueError(kind)

    def _value(self, field: str, rng: np.random.Generator):
        if field == "providencia":
            return f"P-{self.pick_doc(rng)}"
        if field == "tipo":
            return self.pick_tipo(rng)
        if field == "anio":
            return int(self.pick_anio(rng))
        return " ".join(self.pick_term(rng) for _ in range(2))


# -------------------------------------------------------------------- refresh


class Refresh:
    """One writer ingests the second half of the corpus in seeded-order
    batches (incremental exact dedup, partitioned append, postings
    merge) while readers filter the growing store and search its
    postings; a batch is timed from its arrival until a search returns
    its documents. An op is one reader request; batches are
    reported beside them."""

    readers = 3
    batch_docs = 100
    read_cycle = ("filter", "filter", "search_or")  # page-1 filters dominate

    n_docs = 5000

    def __init__(self, seed: int, work: str):
        import pyarrow as pa
        import pyarrow.parquet as pq

        self.seed = seed
        c = self.corpus = datagen.make_corpus(seed, self.n_docs, 0)
        n = len(c.doc_id)
        self.half = n // 2
        rng = np.random.default_rng([seed, 3])
        rest = rng.permutation(np.arange(self.half, n))
        self.batches = [rest[i : i + self.batch_docs] for i in range(0, len(rest), self.batch_docs)]
        self.incoming = os.path.join(work, "incoming")
        os.makedirs(self.incoming)
        for i, rows in enumerate(self.batches):
            pq.write_table(
                datagen.documents_table(c, np.sort(rows)),
                os.path.join(self.incoming, f"batch_{i:04d}.parquet"),
            )
        self.docs = oracle.Docs(c)
        self._replay()
        # The initial store is an input, as if restored from a backup:
        # the first half's exact-dedup survivors partitioned by anio, their
        # content-hash index and postings v0, in the layout the package's
        # writers produce.
        self.store = os.path.join(work, "store")
        initial = [i for i in range(self.half) if self.visible_at[i] == 0]
        docs = datagen.documents_table(c, np.array(initial))
        pq.write_to_dataset(
            docs.append_column("anio", pa.array([oracle.anio(i) for i in initial], pa.int32())),
            self.docs_path, partition_cols=["anio"],
        )
        os.makedirs(self.hashes_path)
        pq.write_table(
            pa.table({"content_hash": [oracle.fingerprint(c.text[i]) for i in initial]}),
            os.path.join(self.hashes_path, "part-0.parquet"),
        )
        index: dict[str, list[int]] = {}
        for i in initial:
            for t in self.docs.token_sets[i]:
                index.setdefault(t, []).append(i)
        os.makedirs(os.path.join(self.store, "postings"))
        pq.write_table(
            pa.table({
                "token": list(index),
                "postings": pa.array([sorted(v) for v in index.values()], pa.list_(pa.int64())),
                "df": pa.array([len(v) for v in index.values()], pa.int64()),
            }),
            self._postings_path(0),
        )
        self.pick_tipo = Zipf(rng.permutation(sorted(set(c.source))))
        self.pick_anio = Zipf(rng.permutation(25) + 2000)
        self.pick_term = Zipf(rng.permutation(c.vocab[TERM_RANKS[0] : TERM_RANKS[1]]))
        self.sizes = {"docs": n, "initial_docs": self.half, "batch_docs": self.batch_docs}

    # -- oracle: the version at which each document becomes visible

    def _replay(self) -> None:
        d = self.docs
        inf = len(self.batches) + 1
        self.visible_at = [inf] * len(d.ids)
        seen: set[str] = set()
        first: dict[str, int] = {}
        for i in range(self.half):
            first.setdefault(oracle.fingerprint(d.text[i]), i)
        for fp, i in first.items():
            seen.add(fp)
            self.visible_at[i] = 0
        self.fresh: list[list[int]] = []
        for v, rows in enumerate(self.batches, start=1):
            in_batch: dict[str, int] = {}
            for i in sorted(int(r) for r in rows):
                in_batch.setdefault(oracle.fingerprint(d.text[i]), i)
            kept = sorted(i for fp, i in in_batch.items() if fp not in seen)
            seen.update(in_batch)
            for i in kept:
                self.visible_at[i] = v
            self.fresh.append(kept)

    def expected(self, field: str, value, version: int) -> set[int]:
        return {
            i for i in self.docs.filter_ids(field, value)
            if self.visible_at[i] <= version
        }

    # -- setup: open the store (the writer appends to it only after set-up)

    def setup(self, spark, tr) -> None:
        from providenciasbigdata_spark import io
        from providenciasbigdata_spark.engine import ProvidenciasEngine

        self.version = 0
        self.post = io.load_table(spark, os.path.join(self.store, "postings"), "v0000")
        self.eng = ProvidenciasEngine(spark, self.store)
        self._lock = threading.Lock()
        self.ingest_stats: list[tuple[int, int, int, int]] = []  # fresh, files, bytes, input bytes

    @property
    def docs_path(self) -> str:
        return os.path.join(self.store, "documents.parquet")

    @property
    def hashes_path(self) -> str:
        return os.path.join(self.store, "hashes.parquet")

    def _postings_path(self, v: int) -> str:
        return os.path.join(self.store, "postings", f"v{v:04d}.parquet")

    def warmup(self, log: Log, tr, jobs) -> None:
        spark = self.eng.spark
        rng = np.random.default_rng([self.seed, 99])
        reads = [self.read(kind, 0, rng, tr) for kind in ("filter", "search_or")]
        _parallel(1 + len(reads), [
            lambda: log.run("ingest", lambda: self.ingest(spark, 0, tr), tr, jobs),
            *[lambda kind=kind, call=call: log.run(kind, call, tr, jobs)
              for kind, call in zip(("filter", "search_or"), reads)],
        ])

    def measure(self, seconds: float, log: Log, tr, jobs) -> tuple[list[Op], list[Op]]:
        """Returns (reader requests, ingested batches)."""
        spark = self.eng.spark
        batches: list[Op] = []
        reads: list[list[Op]] = [[] for _ in range(self.readers)]

        def client(i, stop):
            if i == 0:  # the writer
                b = 1  # batch 0 is ingested by the warm-up
                while not stop.is_set() and b < len(self.batches):
                    batches.append(log.run("ingest", lambda b=b: self.ingest(spark, b, tr), tr, jobs))
                    b += 1
                return
            rng = np.random.default_rng([self.seed, 4, i])
            seen: dict[str, int] = {}
            k = i
            while not stop.is_set():
                kind = self.read_cycle[k % len(self.read_cycle)]
                seen[kind] = seen.get(kind, -1) + 1
                reads[i - 1].append(log.run(kind, self.read(kind, seen[kind], rng, tr), tr, jobs))
                k += 1

        _closed_loop(1 + self.readers, seconds, client)
        return [o for ops in reads for o in ops], batches

    def extra_report(self, batches: list[Op]) -> dict:
        stats = self.ingest_stats[1:]  # batch 0 is ingested by the warm-up
        busy = sum(o.end - o.start for o in batches)
        return {
            "batches": len(batches),
            "refresh_s": measure.latency_summary([o.ms / 1e3 for o in batches]),
            "ingest_docs_per_s": sum(s[0] for s in stats) / busy,
            "io_files_written_per_batch": measure.median([s[1] for s in stats]),
            "io_bytes_written_per_input_byte": sum(s[2] for s in stats) / sum(s[3] for s in stats),
        }

    def ingest(self, spark, b: int, tr) -> str | None:
        """Ingest batch ``b`` (0-based) as version b+1 and confirm it is
        searchable."""
        from pyspark.sql import functions as F

        from providenciasbigdata_spark import io
        from providenciasbigdata_spark.compat import documents as docs_mod
        from providenciasbigdata_spark.functions.text import content_fingerprint
        from providenciasbigdata_spark.operators import dedup, postings

        v = b + 1
        files0, bytes0 = _tree_size(self.docs_path)
        batch = io.load_table(spark, self.incoming, f"batch_{b:04d}")
        seen = io.load_table(spark, self.store, "hashes")
        with tr.span("operators.dedup.dedup_exact_incremental"):
            fresh = dedup.dedup_exact_incremental(batch, seen).persist()
            n_fresh = fresh.count()
        try:
            with tr.span("io.write_partitioned"):
                io.write_partitioned(
                    fresh.withColumn("anio", _anio(F)), self.docs_path, ["anio"], mode="append"
                )
            with tr.span("operators.postings.postings_append"):
                merged = postings.postings_append(self.post, docs_mod.rulings_view(fresh))
                io.write_partitioned(merged, self._postings_path(v))
            # last: appending to the hash index re-caches ``fresh``, which
            # reads that index, and would empty it for any later use
            with tr.span("io.write_partitioned"):
                io.write_partitioned(
                    fresh.select(content_fingerprint(F.col("text")).alias("content_hash")),
                    self.hashes_path, mode="append",
                )
        finally:
            fresh.unpersist()
        new_post = io.load_table(spark, os.path.join(self.store, "postings"), f"v{v:04d}")
        with self._lock:
            self.post, self.version = new_post, v
        files1, bytes1 = _tree_size(self.docs_path)
        in_bytes = os.path.getsize(os.path.join(self.incoming, f"batch_{b:04d}.parquet"))
        self.ingest_stats.append((n_fresh, files1 - files0, bytes1 - bytes0, in_bytes))
        want = self.fresh[b]
        if n_fresh != len(want):
            return f"batch {b}: {n_fresh} new documents, expected {len(want)}"
        if not want:
            return None
        # visible to search: the postings and a page-1 lookup both return it
        doc = want[0]
        term = self.docs.tokens[doc][-1]
        with tr.span("operators.postings.search_or.exec"):
            hits = {r["doc_id"] for r in postings.search_or(new_post, [term]).collect()}
        if hits != self.expected("texto", term, v):
            return f"batch {b}: search_or({term!r}) misses or adds documents"
        with tr.span("engine.query_rulings.plan"):
            df = self.eng.query_rulings(providencia=f"P-{doc}")
        with tr.span("compat.documents.to_result_frame"):
            got = _rows_set(docs_mod.to_result_frame(df), "providencia")
        return None if got == {f"P-{doc}"} else f"batch {b}: P-{doc} not visible"

    def read(self, kind: str, nth: int, rng: np.random.Generator, tr):
        """A reader's ``nth`` request of ``kind``; filters rotate fields."""
        from providenciasbigdata_spark.compat import documents as docs_mod
        from providenciasbigdata_spark.operators import postings

        if kind == "search_or":
            terms = [self.pick_term(rng) for _ in range(1 + nth % 2)]

            def call():
                with self._lock:
                    post, v = self.post, self.version
                with tr.span("operators.postings.search_or.exec"):
                    got = {r["doc_id"] for r in postings.search_or(post, terms).collect()}
                want = set().union(*(self.expected("texto", t, v) for t in terms))
                return None if got == want else f"search_or {terms} at v{v}: {len(got)} docs, expected {len(want)}"

            return call
        field = ("tipo", "anio", "texto")[nth % 3]
        value = (
            self.pick_tipo(rng) if field == "tipo"
            else int(self.pick_anio(rng)) if field == "anio"
            else self.pick_term(rng)
        )

        def call():
            v0 = self.version
            with tr.span("engine.query_rulings.plan"):
                df = self.eng.query_rulings(**{field: value})
            with tr.span("compat.documents.to_result_frame"):
                got = {int(p[2:]) for p in _rows_set(docs_mod.to_result_frame(df), "providencia")}
            v1 = self.version
            # the store is append-only: every row of the version seen
            # before the call, nothing past the one being written after it
            lo, hi = self.expected(field, value, v0), self.expected(field, value, v1 + 1)
            if not lo <= got <= hi:
                return f"filter {field}={value!r} between v{v0} and v{v1 + 1}: wrong rows"
            return None

        return call


def _anio(F):
    """The year column the store is partitioned by (the package's
    fixture mapping: 2000 + doc_id % 25)."""
    return (F.lit(2000) + F.col("doc_id") % 25).cast("int")


def _tree_size(path: str) -> tuple[int, int]:
    files = size = 0
    for root, dirs, names in os.walk(path):
        dirs[:] = [x for x in dirs if not x.startswith(("_", "."))]
        for f in names:
            if not f.startswith(("_", ".")):
                files += 1
                size += os.path.getsize(os.path.join(root, f))
    return files, size


# -------------------------------------------------------------- offline_build


class OfflineBuild:
    """The offline pipeline the reference assumes ran before its
    servers: quality and language scoring, exact and MinHash dedup, the
    BM25 index, the full similarity-edge build thresholded into a
    graph, PageRank and connected components. An op is one stage call.
    There is no warm-up: a batch job starts in a fresh JVM, so its first
    pass pays for compiling its code, as a production job does."""

    threshold = 30.0  # similitud cut for the graph; the oracle checks it leaves edges

    # the all-pairs similarity build is O(n^2): 400 vectors keep a pass
    # to seconds
    n_docs, n_vectors = 2000, 400

    def __init__(self, seed: int, work: str):
        self.work = work
        self.corpus = datagen.make_corpus(seed, self.n_docs, self.n_vectors)
        self.data_dir = os.path.join(work, "data")
        datagen.write_tables(self.corpus, self.data_dir)
        self.sizes = {"docs": len(self.corpus.doc_id), "vectors": len(self.corpus.vec_id)}

    def setup(self, spark, tr) -> None:
        self.spark = spark
        self.expect = self._oracle(self.corpus, self.threshold)

    @staticmethod
    def _oracle(c: datagen.Corpus, threshold: float) -> dict:
        docs = oracle.Docs(c)
        langs: dict[str, int] = {}
        q_sum = 0.0
        for text, toks in zip(c.text, docs.tokens):
            lang = oracle.lang_id(toks)
            langs[lang] = langs.get(lang, 0) + 1
            q_sum += oracle.quality_score(text)
        fps: dict[str, int] = {}
        by_seq: dict[tuple, list[int]] = {}
        for i, (text, toks) in enumerate(zip(c.text, docs.tokens)):
            fps.setdefault(oracle.fingerprint(text), i)
            if len(toks) >= 3:
                by_seq.setdefault(tuple(toks), []).append(i)
        must_pairs = {
            (a, b) for ids in by_seq.values() for a in ids for b in ids if a < b
        }
        sims = oracle.cosine100(c.embedding)
        np.fill_diagonal(sims, -np.inf)
        sure = sims >= threshold + oracle.EDGE_SLACK
        maybe = sims >= threshold - oracle.EDGE_SLACK
        bm = oracle.Bm25(docs)
        src, dst = np.nonzero(sure)
        if not len(src):
            raise RuntimeError(f"threshold {threshold} leaves no edges; pagerank needs some")
        return {
            "docs": docs, "langs": langs, "q_sum": q_sum, "n_docs": len(c.doc_id),
            "survivors": len(fps), "must_pairs": must_pairs,
            "edges": (int(sure.sum()), int(maybe.sum())),
            "nodes": (len(set(src) | set(dst)), len(set(np.nonzero(maybe)[0]) | set(np.nonzero(maybe)[1]))),
            "components": oracle.components(list(zip(src.tolist(), dst.tolist())))
            if sure.sum() == maybe.sum() else None,
            "bm25": (bm.n, bm.avgdl), "threshold": threshold,
        }

    def warmup(self, log: Log, tr, jobs) -> None:
        """None; see the class docstring."""

    def measure(self, seconds: float, log: Log, tr, jobs) -> tuple[list[Op], list[float]]:
        """Whole passes, as many as fit in ``seconds`` judged by the last
        one (at least one); returns (stage calls, pass wall times)."""
        deadline = time.perf_counter() + seconds
        stages: list[Op] = []
        passes: list[float] = []
        while not passes or time.perf_counter() + passes[-1] <= deadline:
            t0 = time.perf_counter()
            stages += self._pass(self.data_dir, self.expect, log, tr, jobs, f"p{len(passes)}")
            passes.append(time.perf_counter() - t0)
        return stages, passes

    def extra_report(self, passes: list[float]) -> dict:
        return {"batch_wall_s": measure.median(passes), "passes": len(passes)}

    def _pass(self, data_dir, expect, log: Log, tr, jobs, tag) -> list[Op]:
        """One offline pass; each stage is checked and counted as its own
        operation, so one failing stage does not hide the others."""
        from pyspark.sql import functions as F

        from providenciasbigdata_spark import io
        from providenciasbigdata_spark.engine import ProvidenciasEngine
        from providenciasbigdata_spark.functions import text as T
        from providenciasbigdata_spark.operators import dedup, graph_algos, postings

        spark = self.spark
        eng = ProvidenciasEngine(spark, data_dir)
        docs = io.load_table(spark, data_dir, "documents")
        edges_dir = os.path.join(self.work, f"edges_{tag}")

        def quality():
            toks = T.tokenize(F.col("text"))
            rows = (
                docs.select(T.quality_score(F.col("text"), toks).alias("q"), T.lang_id(toks).alias("lang"))
                .groupBy("lang").agg(F.count("*").alias("n"), F.sum("q").alias("q"))
                .collect()
            )
            langs = {r["lang"]: r["n"] for r in rows}
            q = sum(r["q"] for r in rows)
            if langs != expect["langs"] or abs(q - expect["q_sum"]) > 1e-6 * expect["n_docs"]:
                return f"quality/lang: {langs} sum {q}, expected {expect['langs']} sum {expect['q_sum']}"
            return None

        def exact():
            with tr.span("engine.deduplicate.plan"):
                survivors = eng.deduplicate("exact")
            with tr.span("engine.deduplicate.exec"):
                n = survivors.count()
            return None if n == expect["survivors"] else f"dedup_exact: {n} survivors, expected {expect['survivors']}"

        def minhash():
            out = dedup.minhash_near_dups(docs)
            try:
                rows = out.collect()
            finally:
                dedup.release(out)
            pairs = {(min(r["left_id"], r["right_id"]), max(r["left_id"], r["right_id"])) for r in rows}
            missing = expect["must_pairs"] - pairs
            if missing:
                return f"minhash_near_dups: {len(missing)} identical-text pairs missing"
            toks = expect["docs"].tokens
            for a, b in pairs:
                sa, sb = oracle.shingle_set(toks[a]), oracle.shingle_set(toks[b])
                if len(sa & sb) < 0.5 * len(sa | sb) - 1e-9:
                    return f"minhash_near_dups: pair {a},{b} below the threshold"
            return None

        def bm25():
            idx = postings.build_bm25_index(eng.rulings())
            n, avgdl = expect["bm25"]
            if idx.n_docs != n or abs(idx.avgdl - avgdl) > 1e-9 * avgdl:
                return f"build_bm25_index: n={idx.n_docs} avgdl={idx.avgdl}, expected {n} {avgdl}"
            return None

        def similarity():
            with tr.span("engine.edges.plan"):
                e = eng.edges().filter(F.col("similitud") >= expect["threshold"])
            with tr.span("io.write_partitioned"):
                io.write_partitioned(e, os.path.join(edges_dir, "edges.parquet"))
            n = io.load_table(spark, edges_dir, "edges").count()
            lo, hi = expect["edges"]
            return None if lo <= n <= hi else f"similarity edges: {n}, expected {lo}..{hi}"

        def pagerank():
            g = io.load_table(spark, edges_dir, "edges")
            rows = graph_algos.pagerank(g).collect()
            lo, hi = expect["nodes"]
            total = sum(r["rank"] for r in rows)
            if not lo <= len(rows) <= hi or abs(total - 1.0) > 1e-6:
                return f"pagerank: {len(rows)} nodes summing to {total}, expected {lo}..{hi} nodes"
            return None

        def components():
            g = io.load_table(spark, edges_dir, "edges")
            n = graph_algos.connected_components(g).select("component").distinct().count()
            want = expect["components"]
            return None if want is None or n == want else f"connected_components: {n}, expected {want}"

        stages = {
            "functions.text.quality_score": quality,
            "operators.dedup.dedup_exact": exact,
            "operators.dedup.minhash_near_dups": minhash,
            "operators.postings.build_bm25_index": bm25,
            "compat.graph.build_similarity_edges": similarity,
            "operators.graph_algos.pagerank": pagerank,
            "operators.graph_algos.connected_components": components,
        }
        ops = []
        for name, fn in stages.items():
            def call(name=name, fn=fn):
                with tr.span(name):
                    return fn()
            ops.append(log.run(name, call, tr, jobs))
        shutil.rmtree(edges_dir, ignore_errors=True)
        return ops


WORKLOADS = {"interactive": Interactive, "refresh": Refresh, "offline_build": OfflineBuild}
