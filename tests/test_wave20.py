"""Wave-20 invariants: conformal coverage guarantee, skip-gram pair
recompute, DP mechanism faithfulness."""

from __future__ import annotations

import collections
import hashlib
import math
import re

from pyspark.sql import functions as F

from tscd_datalake_adapter_spark.sources import load_table


def test_conformal_coverage_holds(spark, sf_dir):
    from tscd_datalake_adapter_spark.operators.mlprep import (
        conformal_interval_coverage,
    )

    row = conformal_interval_coverage(spark, sf_dir).collect()[0]
    # split-conformal with an upper-edge bin quantile only widens the
    # interval, so empirical coverage must not undershoot the target by
    # more than finite-sample noise (~2/sqrt(n_test))
    assert row.coverage >= 0.9 - 2.0 / math.sqrt(row.n_test)
    assert row.q_upper > 0
    assert row.n_train + row.n_cal + row.n_test > 0
    # recompute coverage from raw rows with the published betas/quantile
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    base = (
        o.join(l, o.o_orderkey == l.l_orderkey)
        .groupBy("o_orderkey", "o_totalprice")
        .agg(F.count("*").alias("x"))
        .collect()
    )
    n_test = covered = 0
    for r in base:
        h = int(
            hashlib.md5(f"cf:{r.o_orderkey}".encode()).hexdigest()[:15], 16
        ) % 10
        if h >= 8:
            n_test += 1
            resid = abs(
                r.o_totalprice - (row.beta0 + row.beta_nitems * r.x)
            )
            if resid <= row.q_upper:
                covered += 1
    assert n_test == row.n_test
    # betas are round-6 republished; the boundary can flip only for
    # residuals within ~1e-4 of q_upper — none exist in the fixture
    assert abs(covered / n_test - row.coverage) < 1e-3


def test_conformal_tiny_calibration_set_nulls_only_q_upper(spark, tmp_path):
    """With n_cal <= 8 no histogram bin reaches ceil(0.9 * (n_cal + 1)):
    q_upper is NULL, but n_cal (and n_train, n_test) stay the true split
    counts."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from tscd_datalake_adapter_spark.operators.mlprep import (
        conformal_interval_coverage,
    )

    keys = list(range(1, 25))
    items = {k: 1 + k % 4 for k in keys}
    pq.write_table(
        pa.table(
            {
                "o_orderkey": pa.array(keys, pa.int64()),
                "o_totalprice": pa.array(
                    [100.0 * items[k] + 7.0 * (k % 3) for k in keys]
                ),
            }
        ),
        str(tmp_path / "orders.parquet"),
    )
    pq.write_table(
        pa.table(
            {
                "l_orderkey": pa.array(
                    [k for k in keys for _ in range(items[k])], pa.int64()
                )
            }
        ),
        str(tmp_path / "lineitem.parquet"),
    )
    split = {
        k: int(hashlib.md5(f"cf:{k}".encode()).hexdigest()[:15], 16) % 10
        for k in keys
    }
    n_cal = sum(s in (6, 7) for s in split.values())
    assert 1 <= n_cal <= 8  # the degenerate case this fixture exists for

    row = conformal_interval_coverage(spark, str(tmp_path)).collect()[0]
    assert row.q_upper is None
    assert row.n_cal == n_cal
    assert row.n_train == sum(s <= 5 for s in split.values())
    assert row.n_test == sum(s >= 8 for s in split.values())
    assert row.coverage == 0.0  # no residual is <= a NULL half-width


def test_skipgram_pairs_match_python(spark, sf_dir):
    from tscd_datalake_adapter_spark.operators.text import (
        skipgram_training_pairs,
    )

    rows = skipgram_training_pairs(spark, sf_dir).collect()
    assert len(rows) == 25
    docs = load_table(spark, sf_dir, "documents").where(
        F.col("doc_id") < 120
    ).collect()
    freq = collections.Counter()
    toks_by_doc = {}
    for r in docs:
        toks = [t for t in re.split(r"[^a-z]+", r.text.lower()) if t]
        toks_by_doc[r.doc_id] = toks
        freq.update(toks)
    vocab = sorted(freq.items(), key=lambda kv: (-kv[1], kv[0]))
    widx = {w: i for i, (w, _) in enumerate(vocab)}
    by_idx = {i: w for w, i in widx.items()}
    v = len(vocab)
    counts = collections.Counter()
    for did, toks in toks_by_doc.items():
        for i, c in enumerate(toks):
            for off in (-2, -1, 1, 2):
                j = i + off
                if 0 <= j < len(toks):
                    key = f"neg:{c}:{toks[j]}:{off}:{did}"
                    h = int(
                        hashlib.md5(key.encode()).hexdigest()[:15], 16
                    ) % v
                    counts[(c, toks[j], by_idx[h])] += 1
    want = sorted(
        counts.items(), key=lambda kv: (-kv[1], kv[0])
    )[:25]
    got = [((r.center, r.context, r.negative), r.n_pairs) for r in rows]
    assert got == want


def test_dp_histogram_mechanism_faithful(spark, sf_dir):
    from tscd_datalake_adapter_spark.operators.mlprep import (
        dp_laplace_histogram,
    )

    rows = dp_laplace_histogram(spark, sf_dir).collect()
    truth = {
        r.o_orderpriority: r.n
        for r in load_table(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert {r.priority for r in rows} == set(truth)
    for r in rows:
        assert r.true_n == truth[r.priority]
        assert r.released_n >= 0
        # inverse-CDF replay in Python
        h = int(
            hashlib.md5(f"dp:{r.priority}".encode()).hexdigest()[:15], 16
        )
        u = (h % 999999 + 1) / 1000000.0
        t = u - 0.5
        lap = round(-2.0 * (1.0 if t >= 0 else -1.0)
                    * math.log(1.0 - 2.0 * abs(t)), 12)
        assert r.released_n == max(0, round(r.true_n + lap))
        assert abs(r.abs_noise - round(abs(lap), 6)) < 1e-9
