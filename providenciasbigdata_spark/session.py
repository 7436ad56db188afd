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
owner, builds every frame made on the driver as a ``LocalFrame``
(``local_frame``), and decides every driver/Spark size gate inside one
Arrow collect (``collect_below``).

A ``LocalFrame`` holds its rows as an Arrow table. ``collect()``,
``toPandas()`` and ``toArrow()`` read that table on the driver, and
``drop`` by column names keeps it; none of them touches the JVM. The
JVM local relation is built from the table the first time any other
method needs the frame's ``_jdf`` (a count, a projection, a join), and
from then on the frame behaves as an eagerly built one.

``round_half_up`` is Spark's ``round`` on doubles, computed on the
driver, so a result rounded there needs no JVM relation to be rounded.
"""

from __future__ import annotations

import functools
import logging
import os
import queue
import threading
import weakref
from decimal import ROUND_HALF_UP, Context, Decimal

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame
from pyspark.sql.conversion import ArrowTableToRowsConversion
from pyspark.sql.pandas.types import (
    _check_arrow_table_timestamps_localize,
    from_arrow_schema,
    to_arrow_schema,
)
from pyspark.sql.types import StructType, _parse_datatype_string
from pyspark.sql.utils import is_timestamp_ntz_preferred


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


class LocalFrame(ClassicDataFrame):
    """A frame made on the driver that holds its rows as an Arrow table
    and its ``StructType``. ``collect()``, ``toPandas()`` and
    ``toArrow()`` read the held table through PySpark's own converters
    and make no gateway call; ``drop`` by plain column names returns
    another ``LocalFrame``. Every other method reads ``_jdf``, the JVM
    local relation, which the first such read builds from the held
    table (``createDataFrame``, as an eager frame is built), so it
    behaves as any frame does. Two threads may both build it: each
    builds the same relation, and either one is kept."""

    def __new__(cls, *args):
        # DataFrame.__new__ runs DataFrame.__init__, with a built relation
        return object.__new__(cls)

    def __init__(self, session: SparkSession, table: pa.Table, schema: StructType):
        # what DataFrame.__init__ sets, but _jdf, which is built lazily
        self._session = session
        self._sc = session._sc
        self.is_cached = False
        self._support_repr_html = False
        self._table = table
        self._relation = None
        self.schema = schema  # the parent's cached property, filled in

    @property
    def _jdf(self):
        if self._relation is None:
            self._relation = self._session.createDataFrame(self._table, self.schema)._jdf
        return self._relation

    def collect(self) -> list:
        # binary cells as bytes: the JVM's pickled rows carry bytes too
        return ArrowTableToRowsConversion.convert(self._table, self.schema)

    def _collect_as_arrow(
        self, split_batches: bool = False, empty_list_if_zero_records: bool = True
    ) -> list:
        # the held table stays whole: a self-destructing toPandas frees
        # only its own references to these batches
        if self._table.num_rows == 0:
            if empty_list_if_zero_records:
                return []
            return [pa.RecordBatch.from_pylist([], schema=self._table.schema)]
        return self._table.to_batches()

    def drop(self, *cols):
        fields = self.schema.fields
        # a name that matches a column only case-insensitively, or a
        # Column, is resolved by the JVM relation
        if not all(isinstance(c, str) for c in cols) or any(
            f.name != c and (f.name.lower() == c.lower() or f.name.upper() == c.upper())
            for f in fields for c in cols
        ):
            return super().drop(*cols)
        keep = [i for i, f in enumerate(fields) if f.name not in cols]
        return LocalFrame(
            self._session, self._table.select(keep), StructType([fields[i] for i in keep])
        )


def held_table(df: DataFrame) -> "pa.Table | None":
    """The Arrow table ``df`` holds when it is a ``LocalFrame``, else None."""
    return df._table if isinstance(df, LocalFrame) else None


def _has_timestamp(t: pa.DataType) -> bool:
    return pa.types.is_timestamp(t) or any(
        _has_timestamp(t.field(i).type) for i in range(t.num_fields)
    )


def local_frame(
    spark: SparkSession, data: "pa.Table | list", schema: "StructType | str | None" = None
) -> LocalFrame:
    """A frame made on the driver, as a ``LocalFrame``: collecting it,
    or turning it into pandas or Arrow, reads the held table, runs no
    Spark job and makes no gateway call. The JVM local relation is
    built the first time anything else reads the frame (a count, a
    ``first``, a projection or filter, which Spark then folds into the
    relation), and runs no Spark job either. (``createDataFrame`` over
    a Python list makes an RDD of pickled rows instead, whose every
    collect runs a Python-worker job.)

    ``data`` is a ``pyarrow.Table``, typed by its own schema, or a list
    of row tuples typed by ``schema``: a ``StructType`` or a DDL string,
    whose types and nullability the frame keeps as declared. The held
    table is the one ``createDataFrame`` sends the JVM: the schema is
    inferred as it infers it, timestamps are localized in the session
    time zone, and the columns are cast to the schema's Arrow types.
    The session configuration is read only for a table with a
    timestamp column.
    """
    if isinstance(data, pa.Table):
        if any(_has_timestamp(t) for t in data.schema.types):
            ntz = is_timestamp_ntz_preferred()
            schema = from_arrow_schema(data.schema, prefer_timestamp_ntz=ntz)
            timezone = spark._jconf.sessionLocalTimeZone()
            data = _check_arrow_table_timestamps_localize(data, schema, True, timezone)
        else:
            schema = from_arrow_schema(data.schema)
        arrow = to_arrow_schema(schema, error_on_duplicated_field_names_in_struct=True)
        return LocalFrame(spark, data.cast(arrow), schema)
    if isinstance(schema, str):
        schema = _ddl_schema(schema)
    # rows built in the schema's Arrow types need neither localizing nor a cast
    arrow = to_arrow_schema(schema, error_on_duplicated_field_names_in_struct=True)
    columns = [pa.array([row[i] for row in data], f.type) for i, f in enumerate(arrow)]
    return LocalFrame(spark, pa.Table.from_arrays(columns, schema=arrow), schema)


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


# |x * 10**digits| below which numpy's floor finds Spark's digits: the
# product's rounding error and the gap between x and its shortest
# decimal each stay under 2.4e-7 there, inside the tie band below
_FLOOR_EXACT = 2.0**31
_TIE_BAND = 1e-6


def round_half_up(values, digits: int) -> np.ndarray:
    """Spark's ``round(x, digits)`` of each double in ``values``, bit for
    bit: ``BigDecimal.valueOf(x).setScale(digits, HALF_UP).doubleValue()``,
    which rounds the shortest decimal string of ``x`` half away from
    zero. NaN and infinities pass through, and a zero result is +0.0.
    A negative ``digits`` rounds to a multiple of ``10**-digits``, as
    ``setScale`` does (15.0 at -1 is 20.0).

    numpy computes ``floor(x * 10**digits + 0.5) / 10**digits``, which is
    exact unless ``x * 10**digits`` lies within 1e-6 of a tie or beyond
    2**31 in magnitude, or ``10**digits`` is not a double or not an
    integer (``digits < 0``). Those values go through ``Decimal(repr(x)).quantize(..., ROUND_HALF_UP)``, the
    contract ``streaming.py`` rounds by: Python's ``repr`` is the
    shortest string that reads back as ``x``, as ``Double.toString`` is
    meant to be (``tests/test_rounding.py`` checks both against the
    session's JVM)."""
    x = np.asarray(values, dtype=np.float64)
    finite = np.isfinite(x)
    with np.errstate(all="ignore"):
        scale = np.float64(10.0) ** digits
        y = x * scale
        out = np.floor(y + 0.5) / scale + 0.0  # + 0.0 turns -0.0 into 0.0
        slow = finite & (
            ~(np.abs(y) < _FLOOR_EXACT) | (np.abs(y - np.floor(y) - 0.5) < _TIE_BAND)
            | (digits > 22) | (digits < 0)
        )
    out = np.where(finite, out, x)
    quantum = Decimal(1).scaleb(-digits)
    exact = Context(prec=max(digits, 0) + 310)  # every digit of any double at this scale
    for i in np.flatnonzero(slow):
        out.flat[i] = float(Decimal(repr(float(x.flat[i]))).quantize(quantum, ROUND_HALF_UP, exact)) + 0.0
    return out


@functools.lru_cache(maxsize=256)
def _ddl_schema(ddl: str) -> StructType:
    return _parse_datatype_string(ddl)
