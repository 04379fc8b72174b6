"""Source/sink unit coverage: readers, feature gates, clustered writes."""

from __future__ import annotations

import glob

import pytest
from pyspark.sql import functions as F

from tscd_datalake_adapter_spark.sources import (
    load_table,
    read_csv,
    read_json,
    read_text,
    write_partitioned,
    write_table,
)

pytestmark = pytest.mark.smoke


def test_read_text_modes(spark, tmp_path):
    p = tmp_path / "t.txt"
    p.write_text("line1\nline2\n")
    assert read_text(spark, str(p)).count() == 2
    assert read_text(spark, str(p), wholetext=True).count() == 1


def test_csv_json_readers(spark, tmp_path):
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    df.write.mode("overwrite").option("header", "true").csv(str(tmp_path / "c"))
    df.write.mode("overwrite").json(str(tmp_path / "j"))
    assert read_csv(spark, str(tmp_path / "c"), schema="id long, v string").count() == 2
    assert read_json(spark, str(tmp_path / "j"), schema="id long, v string").count() == 2


def test_lakehouse_formats_gated(spark, tmp_path):
    """Without the connector jars Spark itself refuses the jar-backed
    formats at entry and writes nothing (the in-repo delta_lite and
    iceberg_lite are the lakehouse path)."""
    from py4j.protocol import Py4JJavaError

    df = spark.createDataFrame([(1,)], "id long")
    for fmt in ("delta", "iceberg"):
        with pytest.raises(Py4JJavaError, match="DATA_SOURCE_NOT_FOUND"):
            write_table(df, str(tmp_path / fmt), fmt=fmt)
        assert not (tmp_path / fmt).exists()


def test_json_quarantine(spark, tmp_path):
    from tscd_datalake_adapter_spark.sources.tables import read_json_with_quarantine

    p = tmp_path / "mixed.json"
    p.write_text(
        '{"id": 1, "v": "ok"}\n'
        "this is not json\n"
        '{"id": 2, "v": "also ok"}\n'
        '{"id": "not-a-number", "v": 3}\n'
    )
    df = read_json_with_quarantine(spark, str(p), "id long, v string")
    rows = df.collect()
    assert len(rows) == 4  # nothing dropped
    good = [r for r in rows if r._corrupt_record is None]
    bad = [r for r in rows if r._corrupt_record is not None]
    assert {r.id for r in good} == {1, 2}
    assert len(bad) == 2  # malformed line + type-violating line quarantined


def test_schema_evolution_read(spark, tmp_path):
    from tscd_datalake_adapter_spark.sources.tables import read_lake_evolved

    path = str(tmp_path / "evolving")
    spark.createDataFrame([(1, "a")], "id long, v string").write.mode(
        "append"
    ).parquet(path)
    spark.createDataFrame(
        [(2, "b", 9.5)], "id long, v string, score double"
    ).write.mode("append").parquet(path)
    df = read_lake_evolved(spark, path)
    assert set(df.columns) == {"id", "v", "score"}
    rows = {r.id: r for r in df.collect()}
    assert rows[1].score is None  # pre-evolution file reads NULL
    assert rows[2].score == 9.5


def test_clustered_write_narrows_file_ranges(spark, sf_dir, tmp_path):
    """cluster_by must make each file cover a narrow, mostly-disjoint value
    range (the min/max data-skipping property)."""
    o = load_table(spark, sf_dir, "orders").repartition(8)  # scrambled input
    path = str(tmp_path / "clustered")
    write_partitioned(
        o,
        path,
        partition_by=(),
        mode="overwrite",
        cluster_by=("o_orderdate",),
        n_files=4,
    )
    files = sorted(glob.glob(f"{path}/*.parquet"))
    assert len(files) >= 2
    ranges = []
    for f in files:
        r = (
            spark.read.parquet(f)
            .agg(F.min("o_orderdate"), F.max("o_orderdate"))
            .first()
        )
        if r[0] is not None:
            ranges.append((r[0], r[1]))
    ranges.sort()
    # consecutive files must not overlap beyond range boundaries
    overlaps = sum(
        1 for (a, b) in zip(ranges, ranges[1:]) if a[1] > b[0]
    )
    assert overlaps == 0, f"file ranges overlap: {ranges}"


def test_queries_self_heal_under_foreign_session_confs(spark, sf_dir):
    """The round driver builds its own SparkSession with its own confs.
    load_table's ensure_engine_confs must make timestamp-sensitive queries
    produce identical results even when the session starts with a hostile
    timezone and NTZ inference — the guard NOTES.md says never to remove."""
    from tscd_datalake_adapter_spark.operators.history import (
        scd2_user_event_history,
    )
    from tscd_datalake_adapter_spark.streaming.batch_twins import (
        stream_tumbling_window,
    )

    def snap():
        a = [tuple(r) for r in scd2_user_event_history(spark, sf_dir).limit(40).collect()]
        b = [tuple(r) for r in stream_tumbling_window(spark, sf_dir).limit(40).collect()]
        return a, b

    baseline = snap()
    old_tz = spark.conf.get("spark.sql.session.timeZone")
    old_ntz = spark.conf.get("spark.sql.parquet.inferTimestampNTZ.enabled")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
        assert snap() == baseline
    finally:
        spark.conf.set("spark.sql.session.timeZone", old_tz)
        spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", old_ntz)


def test_recursion_row_budget_scoped(spark):
    """r9 verdict item 8: the eager-scope recursion budget tightens the
    valve inside the scope (a recursion over budget raises), restores the
    session value after, and the restore is safe because materialization
    happens INSIDE the scope (the limit is execution-time-enforced)."""
    import pytest

    from tscd_datalake_adapter_spark.sources import recursion_row_budget

    key = "spark.sql.cteRecursionRowLimit"
    before = spark.conf.get(key)
    q = (
        "WITH RECURSIVE r(n) AS (SELECT 1 UNION ALL "
        "SELECT n+1 FROM r WHERE n < 50) SELECT count(*) AS c FROM r"
    )
    with recursion_row_budget(spark, 10):
        assert spark.conf.get(key) == "10"
        with pytest.raises(Exception, match="RECURSION_ROW_LIMIT"):
            spark.sql(q).collect()
    assert spark.conf.get(key) == before
    # derivable budget (>= true row need of 50) admits the recursion
    with recursion_row_budget(spark, 64):
        assert spark.sql(q).collect()[0].c == 50
    assert spark.conf.get(key) == before
