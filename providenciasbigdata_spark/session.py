"""SparkSession factory tuned for the engine.

Defaults are chosen for correctness-vs-oracle (UTC timestamps; ANSI
mode stays at the Spark 4 default ON — every oracle-checked query
passes under it, and it surfaces overflow/cast bugs instead of wrapping)
and for scale (AQE on, Arrow on, shuffle partitions sized to cores locally —
on a real cluster leave ``spark.sql.shuffle.partitions`` to AQE's
coalescing and size ``spark.sql.files.maxPartitionBytes`` so scan tasks
stay ~128MB).

It also ties persisted DataFrames to the Python object that owns them
(``unpersist_on_collect``), so cached data lives exactly as long as its
owner, builds every frame made on the driver as an Arrow local
relation (``local_frame``), and decides every driver/Spark size gate
inside one Arrow collect (``collect_below``).
"""

from __future__ import annotations

import functools
import logging
import os
import queue
import threading
import weakref

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType, _parse_datatype_string


def get_spark(
    app_name: str = "providenciasbigdata_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    Local test/bench runs honor ``SPARK_GRAFT_CPUS`` (default 32).
    On a cluster, pass ``master=None`` and let spark-submit decide.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    # transformWithStateInPandas shim (verdict-r5 item 5): where
    # google.protobuf is absent, every Spark PYTHON WORKER must see the
    # miniproto stand-in for StateMessage_pb2. Workers are fresh
    # interpreters, so the hook rides PYTHONPATH: the vendor/pythonpath
    # dir carries a sitecustomize that lazily registers the shim
    # finder, and the repo root makes the package importable there.
    # Must happen BEFORE the JVM starts — local-mode workers inherit
    # the driver JVM's env. No-op (real runtime wins) when protobuf
    # exists; fail-open everywhere else.
    from providenciasbigdata_spark.vendor import protoshim

    if protoshim.install():
        # …/repo_root/providenciasbigdata_spark/vendor/protoshim.py
        repo_root = os.path.dirname(
            os.path.dirname(os.path.dirname(os.path.abspath(protoshim.__file__)))
        )
        entries = [protoshim.pythonpath_dir(), repo_root]
        existing = os.environ.get("PYTHONPATH", "")
        merged = [e for e in entries if e not in existing.split(os.pathsep)]
        if merged:
            os.environ["PYTHONPATH"] = os.pathsep.join(
                merged + ([existing] if existing else [])
            )

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # AQE: runtime partition coalescing + skew-join splitting — the
        # 100TB levers; harmless locally.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow for toPandas()/pandas_udf transfers.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # DuckDB oracle compares timestamps UTC-naive.
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


# Frames whose owner was garbage-collected, waiting to be unpersisted.
# A collector callback may run in the middle of another Py4J call on
# the same thread's connection, so it must not call the JVM itself: it
# only enqueues (SimpleQueue.put is reentrant), and one daemon thread,
# with its own connection, does the unpersisting.
_RELEASED: "queue.SimpleQueue[DataFrame]" = queue.SimpleQueue()
_releaser: threading.Thread | None = None
_releaser_lock = threading.Lock()


def _unpersist_released() -> None:
    while True:
        df = _RELEASED.get()
        try:
            df.unpersist()
        except Exception:  # its session may have been stopped since
            logging.getLogger(__name__).debug("unpersist after collection failed", exc_info=True)


def unpersist_on_collect(owner: object, frames: dict[str, DataFrame]) -> None:
    """When ``owner`` is garbage-collected, unpersist the DataFrames
    that ``frames`` holds at that moment. ``frames`` is a dict the owner
    keeps current (and empties on an explicit release); it must not
    refer back to ``owner``."""
    global _releaser
    with _releaser_lock:
        if _releaser is None:
            _releaser = threading.Thread(
                target=_unpersist_released, name="unpersist-released", daemon=True
            )
            _releaser.start()
    done = weakref.finalize(owner, _enqueue, frames)
    done.atexit = False  # the JVM goes down with the interpreter anyway


def _enqueue(frames: dict[str, DataFrame]) -> None:
    for df in list(frames.values()):
        _RELEASED.put(df)


def local_frame(
    spark: SparkSession, data: "pa.Table | list", schema: "StructType | str | None" = None
) -> DataFrame:
    """A frame made on the driver, as an Arrow local relation: collecting
    it, and any projection or filter Spark folds into it, runs no Spark
    job. (``createDataFrame`` over a Python list makes an RDD of pickled
    rows instead, whose every collect runs a Python-worker job.)

    ``data`` is a ``pyarrow.Table``, typed by its own schema, or a list
    of row tuples typed by ``schema``: a ``StructType`` or a DDL string,
    whose types and nullability the frame keeps as declared.
    """
    if isinstance(data, pa.Table):
        return spark.createDataFrame(data)
    if isinstance(schema, str):
        schema = _ddl_schema(schema)
    arrow = to_arrow_schema(schema)
    columns = [pa.array([row[i] for row in data], f.type) for i, f in enumerate(arrow)]
    return spark.createDataFrame(pa.Table.from_arrays(columns, schema=arrow), schema)


def collect_below(df: DataFrame, max_rows: int) -> "pa.Table | None":
    """``df`` as an Arrow table, in ``collect()`` order, when it has at
    most ``max_rows`` rows, else None: the size gate between a driver
    path and a Spark path. One action, ``df.limit(max_rows + 1)
    .toArrow()``, decides and collects: one job over a materialized
    input (two stages over several partitions: each keeps its first
    rows, then a shuffle gathers them in partition order), plus one per
    shuffle in ``df``'s plan, which adaptive execution runs first. A
    ``count()`` then a ``collect()`` run one or two jobs more.
    ``max_rows <= 0`` returns None and runs no job: a gate of 0 sends
    every input, an empty one too, to the Spark path."""
    if max_rows <= 0:
        return None
    table = df.limit(max_rows + 1).toArrow()
    return table if table.num_rows <= max_rows else None


@functools.lru_cache(maxsize=256)
def _ddl_schema(ddl: str) -> StructType:
    return _parse_datatype_string(ddl)
