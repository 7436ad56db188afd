"""The reference's production data path, offline: export the ruling
collection as a mongoexport-style Extended-JSON dump, then run both
reference pages through the engine constructed over the dump via the
custom Python DataSource (providenciasbigdata_spark/datasources.py).

This is the migration story for a user of the reference app: dump the
Mongo collection once, point the engine at the dump, keep every query.

    python examples/offline_dump_flow.py [sf_dir]
"""

from __future__ import annotations

import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from providenciasbigdata_spark import datasources
from providenciasbigdata_spark.compat.documents import rulings_view
from providenciasbigdata_spark.engine import ProvidenciasEngine
from providenciasbigdata_spark.io import load_table
from providenciasbigdata_spark.session import get_spark


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark(app_name="offline-dump-flow", master="local[4]",
                      shuffle_partitions=4)

    # 1. export: collection -> Extended-JSON dump (pure Spark sink)
    dump_dir = os.path.join(tempfile.mkdtemp(prefix="pbd_dump_"), "transcripciones")
    docs = rulings_view(load_table(spark, sf_dir, "documents")).select(
        "doc_id", "providencia", "tipo", "anio", "texto"
    )
    datasources.export_mongodump(docs, dump_dir)
    print(f"[export] wrote dump to {dump_dir}")

    # 2. engine over the dump — page 1 (facets + text search)
    eng = ProvidenciasEngine.from_mongodump(spark, dump_dir, sf_dir)
    tipos = eng.facet_options("tipo")
    print(f"[page 1] tipo facet: {len(tipos)} values, first 3 {tipos[:3]}")
    hits = eng.query_rulings(tipo=tipos[0])
    print(f"[page 1] tipo={tipos[0]}: {hits.count()} rulings (read from the "
          "engine's resident snapshot of the dump)")
    text_hits = eng.query_rulings(texto="merge window")
    print(f"[page 1] text search 'merge window': {text_hits.count()} rulings")

    # 3. page 2 still runs (graph side reads embeddings from sf_dir)
    ids = eng.node_ids()
    nodes, edges = eng.neighborhood_graph(ids[7], lo=20.0, hi=100.0)
    print(f"[page 2] anchor {ids[7]}: {edges.count()} edges, "
          f"{nodes.count()} nodes")

    spark.stop()


if __name__ == "__main__":
    main()
