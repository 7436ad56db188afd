"""MinHash near-dups on both sides of ``dedup._DRIVER_MAX_ROWS``: the
driver build (one collect of the hashed shingles; signatures, bands and
the exact verify in numpy) and the Catalyst banding plan give the same
rows, compared with ``==``."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pytest
from conftest import SF_ORACLE
from pyspark.sql import functions as F

from providenciasbigdata_spark.io import load_table
from providenciasbigdata_spark.operators import dedup
from providenciasbigdata_spark.session import local_frame

_SCHEMA = "doc_id long, text string"
_TEXT = (
    "the court held that the contract was void because the seller never "
    "delivered the goods named in the first clause of the signed agreement"
)
_NEAR = _TEXT.replace("seller", "vendor")
_OTHER = "a different ruling about tax appeals filed late by the ministry of finance"


def _both_sides(distributed, build):
    """The sorted rows of ``build()`` below and above the gate."""
    driver = build()
    with distributed():
        plan = build()
    try:
        assert not getattr(driver, "_pbd_persisted", ()) and plan._pbd_persisted
        assert driver.dtypes == plan.dtypes
        return sorted(map(tuple, driver.collect())), sorted(map(tuple, plan.collect()))
    finally:
        dedup.release(plan)


@pytest.mark.parametrize(
    "threshold, bands, rows_per_band, ngram",
    [
        (0.4, 16, 4, 3),  # q_minhash_near_dups
        (0.5, 16, 4, 3),  # the defaults
        (0.3, 8, 2, 2),
        (0.9, 4, 8, 1),
        (0.2, 20, 3, 4),
    ],
)
def test_driver_build_equals_the_plan(spark, distributed, threshold, bands, rows_per_band, ngram):
    docs = load_table(spark, SF_ORACLE, "documents")
    driver, plan = _both_sides(distributed, lambda: dedup.minhash_near_dups(
        docs, threshold=threshold, bands=bands, rows_per_band=rows_per_band, ngram=ngram
    ))
    assert driver and driver == plan


def test_band_keys_replay_xxhash64_over_four_long_columns(spark):
    lo, hi = np.iinfo(np.int64).min, np.iinfo(np.int64).max
    sig = np.random.default_rng(5).integers(lo, hi, size=(64, 3, 4), endpoint=True)
    sig[0] = [[0, 0, 0, 0], [lo, hi, -1, 1], [42, -42, lo, lo]]
    cols = {f"c{b}_{r}": pa.array(sig[:, b, r]) for b in range(3) for r in range(4)}
    spark_keys = local_frame(spark, pa.table(cols)).select(
        *[F.xxhash64(*[f"c{b}_{r}" for r in range(4)]) for b in range(3)]
    )
    assert dedup._band_keys(sig).tolist() == [list(r) for r in spark_keys.collect()]


def test_chunked_intersections_count_the_shared_elements(monkeypatch):
    rng = np.random.default_rng(11)
    sets = [np.unique(rng.integers(-20, 20, size=n)) for n in (0, 1, 5, 30, 12, 40, 7)]
    offsets = np.append(0, np.cumsum([len(s) for s in sets]))
    set_a, set_b = np.array([0, 1, 2, 3, 4, 5, 3, 6]), np.array([3, 2, 3, 5, 5, 6, 3, 1])
    want = [len(set(sets[a]) & set(sets[b])) for a, b in zip(set_a, set_b)]
    for budget in (1, 17, 1_000_000):  # the element budget of one chunk
        monkeypatch.setattr(dedup, "_DRIVER_MAX_ROWS", budget)
        got = dedup._intersections(np.concatenate(sets), offsets, set_a, set_b)
        assert got.tolist() == want, budget


_DEGENERATE = {
    "empty frame": [],
    "null text": [(1, None), (2, _TEXT), (3, _TEXT)],
    "text shorter than ngram": [(1, "two words"), (2, "two words"), (3, _TEXT), (4, _NEAR)],
    "single document": [(1, _TEXT)],
    "duplicate texts": [(i, _TEXT) for i in range(1, 6)] + [(9, _OTHER)],
    "null doc_id": [(None, _TEXT), (None, _NEAR), (1, _TEXT), (2, _NEAR)],
    # id 3 also has an empty and a null set row, which no pair keeps
    "duplicated doc_id": [
        (1, _TEXT), (1, _NEAR), (2, _TEXT), (3, _NEAR), (3, "x y"), (3, None), (4, _OTHER),
    ],
}


@pytest.mark.parametrize("case", list(_DEGENERATE))
def test_degenerate_inputs_give_the_same_rows(spark, distributed, case):
    docs = spark.createDataFrame(_DEGENERATE[case], _SCHEMA)
    driver, plan = _both_sides(distributed, lambda: dedup.minhash_near_dups(docs))
    assert driver == plan
    pairs = [(a, b) for a, b, _ in driver]
    if case == "duplicated doc_id":
        # one row per pair of set rows: ids 1 and 2 pair twice
        assert pairs == [(1, 2), (1, 2), (1, 3), (1, 3), (2, 3)]
    elif case == "duplicate texts":
        assert pairs == [(a, b) for a in range(1, 6) for b in range(a + 1, 6)]
    elif case in ("null text", "text shorter than ngram", "null doc_id"):
        assert len(pairs) == 1
    else:
        assert pairs == []
