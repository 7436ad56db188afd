"""``session.round_half_up`` is Spark's ``round`` on doubles, bit for bit.

Spark rounds a double through ``BigDecimal.valueOf(x)``, that is through
the JVM's ``Double.toString``, whose output changed in JDK 19, so the
parity is checked against this session's own JVM, not against a Python
model of it. Each batch is rounded at 2, 4 and 6 digits by Spark in one
executed job (generated code) and by the interpreted ``round`` that
folds into a local relation, and by ``round_half_up``, and at -1 digits
(a multiple of ten, as ``setScale(-1)`` rounds): Hypothesis-drawn
doubles, the neighbourhoods of constructed ties ``(k + 0.5) * 10**-d``
(the tie itself and one and two ulps either side), negatives, signed
zeros, NaN, infinities, subnormals and magnitudes past the numpy path.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import functions as F

from providenciasbigdata_spark.session import local_frame, round_half_up

DIGITS = (-1, 2, 4, 6)


def _spark_rounds(spark, values: np.ndarray, count_jobs) -> list[dict[int, np.ndarray]]:
    """Spark's ``round(x, d)`` of ``values`` for each d in DIGITS: run
    as one job over a coalesced relation, and folded into the local
    relation with no job."""
    frame = local_frame(spark, pa.table({"x": pa.array(values, pa.float64())}))
    rounds = [F.round("x", d).alias(f"r{i}") for i, d in enumerate(DIGITS)]
    executed, jobs = count_jobs(lambda: frame.coalesce(1).select(*rounds).toArrow())
    assert jobs == 1
    folded = frame.select(*rounds).toArrow()
    return [
        {d: t[f"r{i}"].to_numpy(zero_copy_only=False) for i, d in enumerate(DIGITS)}
        for t in (executed, folded)
    ]


def _assert_same_bits(spark, values: np.ndarray, count_jobs) -> None:
    for theirs in _spark_rounds(spark, values, count_jobs):
        for d in DIGITS:
            mine = round_half_up(values, d)
            same = (mine.view(np.int64) == theirs[d].view(np.int64)) | (
                np.isnan(mine) & np.isnan(theirs[d])
            )
            bad = np.flatnonzero(~same)[:5]
            assert not len(bad), [(repr(values[i]), d, mine[i], theirs[d][i]) for i in bad]


def _tie_neighbourhoods(rng: np.random.Generator) -> np.ndarray:
    out = []
    for d in DIGITS:
        for top in (10**3, 10**7, 10**12):  # the last reaches past 2**31 scaled
            k = rng.integers(-top, top, 2_000)
            tie = (k + 0.5) / 10.0**d if d >= 0 else (k + 0.5) * 10.0**-d
            up = np.nextafter(tie, np.inf)
            down = np.nextafter(tie, -np.inf)
            out += [tie, up, down, np.nextafter(up, np.inf), np.nextafter(down, -np.inf)]
    return np.concatenate(out)


def test_ties_and_edge_values_round_as_spark_rounds(spark, count_jobs):
    rng = np.random.default_rng(14)
    special = np.array([
        0.0, -0.0, np.nan, np.inf, -np.inf, 5e-324, -5e-324, 2.2250738585072014e-308,
        1e300, -1e300, 1.7976931348623157e308, 2.0**31 / 1e4, 2.0**53, 1e15 + 0.125,
        123456789.123456785, 0.00005, -0.00005, 0.000049999999, -0.000049999999,
        0.005, -0.005, 0.0000005, 1.0000005, 2.675, -2.675, 1.005, 0.125, 0.375,
    ])
    scaled = rng.standard_normal(6_000) * 10.0 ** rng.uniform(-12, 20, 6_000)
    cosines = rng.uniform(-100.0, 100.0, 6_000)
    _assert_same_bits(spark, np.concatenate([special, _tie_neighbourhoods(rng), scaled, cosines]), count_jobs)


@settings(max_examples=15, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.lists(st.floats(allow_nan=True, allow_infinity=True), min_size=1, max_size=300))
def test_drawn_doubles_round_as_spark_rounds(spark, count_jobs, values):
    _assert_same_bits(spark, np.array(values, np.float64), count_jobs)


def test_zero_and_negative_digits_round_half_away_from_zero():
    assert round_half_up([0.5, -0.5, 1.5, 2.5], 0).tolist() == [1.0, -1.0, 2.0, 3.0]
    assert round_half_up([15.0, -15.0, 14.9, 4.0], -1).tolist() == [20.0, -20.0, 10.0, 0.0]
    assert round_half_up([1e300, 250.0], -400).tolist() == [0.0, 0.0]
