"""Shared pytest fixtures: one SparkSession per test run, small SF dirs."""

from __future__ import annotations

import contextlib
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from providenciasbigdata_spark.session import get_spark  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="pbd-tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={"spark.driver.memory": "4g"},
    )
    yield s


@pytest.fixture(scope="session")
def spark_stems(spark):
    """Stem a word list through the Spark stem UDF
    (compat.stemming.stem_col); returns the stems in input order."""
    from pyspark.sql import functions as F

    from providenciasbigdata_spark.compat.stemming import stem_col

    def run(words, language="spanish"):
        # a parallelized list under a narrow select collects in order
        df = spark.createDataFrame([(w,) for w in words], "w string")
        return [r.st for r in df.select(stem_col(F.col("w"), language).alias("st")).collect()]

    return run


@pytest.fixture()
def distributed(monkeypatch):
    """Context manager that forces the distributed loops: inside it the
    size gates of ``graph_algos`` (``_DRIVER_MAX_EDGES``),
    ``similarity``, ``postings`` and ``dedup`` (each
    ``_DRIVER_MAX_ROWS``) and ``engine`` (``_DRIVER_MAX_DOCS``) are 0,
    so ``session.collect_below`` sends every input, an empty one too,
    past the driver finisher: every BM25 index built inside is a Spark
    table, ``dedup.minhash_near_dups`` runs its Catalyst banding plan,
    and an engine's rulings version built inside holds no document
    block, so its Mongo reads run their Catalyst plans."""
    from providenciasbigdata_spark import engine
    from providenciasbigdata_spark.operators import dedup, graph_algos, postings, similarity

    @contextlib.contextmanager
    def force():
        with monkeypatch.context() as m:
            m.setattr(engine, "_DRIVER_MAX_DOCS", 0)
            m.setattr(graph_algos, "_DRIVER_MAX_EDGES", 0)
            m.setattr(similarity, "_DRIVER_MAX_ROWS", 0)
            m.setattr(postings, "_DRIVER_MAX_ROWS", 0)
            m.setattr(dedup, "_DRIVER_MAX_ROWS", 0)
            yield

    return force


@pytest.fixture(scope="session")
def count_jobs(spark):
    """``count_jobs(fn)`` -> (fn(), the number of Spark jobs it ran),
    counted through a job group of its own on this thread."""
    import uuid

    sc = spark.sparkContext

    def run(fn):
        group = f"count-jobs-{uuid.uuid4().hex}"
        sc.setLocalProperty("spark.jobGroup.id", group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()  # the status store is fed asynchronously
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_SMOKE}/{t}.parquet'"
        )
    yield con
    con.close()
