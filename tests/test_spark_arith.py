"""Property tests for the Python twins of Spark arithmetic and for the
bounded single-task fold (``functions.spark_round`` / ``bounded_fold``)."""

from __future__ import annotations

import math
import random
import struct

import pytest

from tscd_datalake_adapter_spark.functions import bounded_fold, spark_round

SCALES = (0, 2, 4, 6, 9, 12)


def _doubles(seed: int = 20261017) -> list[float]:
    rng = random.Random(seed)
    # specials, a tie built-in round() breaks to even (2.675), a negative
    # that rounds to zero, and a value past the default 28-digit context
    xs = [0.0, -0.0, math.inf, -math.inf, math.nan, 2.675, -0.001, 1e300]
    # uniform, spread over magnitudes 1e-8 .. 1e8
    xs += [
        rng.uniform(-1.0, 1.0) * 10.0 ** rng.randint(-8, 8) for _ in range(4000)
    ]
    # near-ties: a k-dp value plus or minus half a unit of the next place
    for _ in range(4000):
        k = rng.choice(SCALES)
        base = round(rng.uniform(-1000.0, 1000.0), k)
        xs.append(base + rng.choice((-5.0, 5.0)) * 10.0 ** -(k + 1))
    # raw 64-bit patterns: subnormals, huge magnitudes, NaN payloads
    xs += [
        struct.unpack("<d", rng.getrandbits(64).to_bytes(8, "little"))[0]
        for _ in range(2500)
    ]
    return xs


def _bits(x: float) -> bytes:
    return struct.pack("<d", x)


def test_spark_round_matches_spark_bit_for_bit(spark):
    from pyspark.sql import functions as F

    xs = _doubles()
    assert len(xs) >= 10_000
    df = spark.createDataFrame(list(enumerate(xs)), "i long, x double")
    rows = df.select(
        "i", *[F.round("x", s).alias(f"r{s}") for s in SCALES]
    ).collect()
    assert len(rows) == len(xs)
    bad = []
    for r in rows:
        x = xs[r.i]
        for s in SCALES:
            want = r[f"r{s}"]
            got = spark_round(x, s)
            same = (
                math.isnan(want) and math.isnan(got)
            ) or _bits(want) == _bits(got)
            if not same:
                bad.append((repr(x), s, repr(want), repr(got)))
    assert not bad, f"{len(bad)} mismatches, first: {bad[:5]}"


def test_bounded_fold_runs_all_rows_in_one_call(spark):
    import pandas as pd

    out = bounded_fold(
        spark.range(0, 100, numPartitions=4),
        lambda pdf: pd.DataFrame({"n": [len(pdf)], "s": [int(pdf["id"].sum())]}),
        "n long, s long",
        bound="a 100-row range",
        max_rows=100,
    ).collect()
    assert [(r.n, r.s) for r in out] == [(100, 4950)]


def test_bounded_fold_raises_past_max_rows(spark):
    import pandas as pd

    df = bounded_fold(
        spark.range(5),
        lambda pdf: pd.DataFrame({"n": [len(pdf)]}),
        "n long",
        bound="a four-row claim",
        max_rows=4,
    )
    with pytest.raises(Exception) as exc:
        df.collect()
    msg = str(exc.value)
    assert "ValueError" in msg and "a four-row claim" in msg


def test_bounded_fold_never_calls_fn_on_empty_input(spark):
    def fn(pdf):
        raise AssertionError("fn reached with an empty frame")

    assert (
        bounded_fold(
            spark.range(0), fn, "id long", bound="no rows", max_rows=1
        ).collect()
        == []
    )


def test_bounded_fold_requires_claim():
    with pytest.raises(ValueError):
        bounded_fold(None, None, "x long", bound="", max_rows=1)
