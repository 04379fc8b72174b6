"""iceberg_lite + avro_lite protocol tests: the Iceberg table-format
contracts (snapshot isolation, manifest reuse on append, schema pinned
per snapshot, manifest-level partition pruning, expiry) implemented from
the public spec without the connector jar — and the Avro object-container
subset the metadata layer rides on (SURVEY.md §2.2 lakehouse row, second
half; the Delta half is tests/test_delta_lite.py)."""

from __future__ import annotations

import io
import json
import os

import pytest
from pyspark.sql import functions as F

from tscd_datalake_adapter_spark.sources import avro_lite, load_table
from tscd_datalake_adapter_spark.sources.iceberg_lite import (
    expire_snapshots,
    load_metadata,
    read_iceberg,
    snapshots,
    write_iceberg,
)


def _orders(spark, sf_dir):
    return load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )


# ------------------------------------------------------------- avro_lite


AVRO_SCHEMA = {
    "type": "record",
    "name": "t",
    "fields": [
        {"name": "s", "type": "string"},
        {"name": "n", "type": "long"},
        {"name": "i", "type": "int"},
        {"name": "b", "type": "boolean"},
        {"name": "d", "type": "double"},
        {"name": "raw", "type": "bytes"},
        {"name": "opt", "type": ["null", "string"], "default": None},
        {"name": "arr", "type": {"type": "array", "items": "long"}},
        {"name": "m", "type": {"type": "map", "values": "string"}},
        {
            "name": "nested",
            "type": [
                "null",
                {
                    "type": "record",
                    "name": "inner",
                    "fields": [
                        {"name": "x", "type": "long"},
                        {
                            "name": "ys",
                            "type": {"type": "array", "items": "string"},
                        },
                    ],
                },
            ],
            "default": None,
        },
    ],
}

AVRO_RECORDS = [
    {
        "s": "héllo ✓",
        "n": -(2**40),
        "i": -1,
        "b": True,
        "d": 3.5,
        "raw": b"\x00\xff",
        "opt": None,
        "arr": [1, -2, 3],
        "m": {"a": "1", "b": "2"},
        "nested": {"x": 7, "ys": ["p", "q"]},
    },
    {
        "s": "",
        "n": 0,
        "i": 2**30,
        "b": False,
        "d": -0.25,
        "raw": b"",
        "opt": "there",
        "arr": [],
        "m": {},
        "nested": None,
    },
]


@pytest.mark.parametrize("codec", ["null", "deflate"])
def test_avro_container_roundtrip(tmp_path, codec):
    p = str(tmp_path / "t.avro")
    avro_lite.write_container(p, AVRO_SCHEMA, AVRO_RECORDS, codec=codec)
    schema, records = avro_lite.read_container(p)
    assert schema == AVRO_SCHEMA
    assert records == AVRO_RECORDS


def test_avro_zigzag_varint_edges():
    buf = io.BytesIO()
    for v in (0, -1, 1, 63, -64, 2**31 - 1, -(2**31), 2**62, -(2**62)):
        buf.seek(0)
        buf.truncate()
        avro_lite.write_datum(buf, "long", v)
        r = avro_lite._Reader(buf.getvalue())
        assert avro_lite.read_datum(r, "long") == v


def test_avro_spec_encoding_pins():
    """Pin the exact byte encodings the Avro spec mandates (so our writer
    is spec-shaped, not merely self-consistent): zigzag(1)=2, zigzag(-1)=1,
    string = varint length + utf8, union branch index precedes value."""
    buf = io.BytesIO()
    avro_lite.write_datum(buf, "long", 1)
    assert buf.getvalue() == b"\x02"
    buf = io.BytesIO()
    avro_lite.write_datum(buf, "long", -1)
    assert buf.getvalue() == b"\x01"
    buf = io.BytesIO()
    avro_lite.write_datum(buf, "long", 64)
    assert buf.getvalue() == b"\x80\x01"
    buf = io.BytesIO()
    avro_lite.write_datum(buf, "string", "ab")
    assert buf.getvalue() == b"\x04ab"
    buf = io.BytesIO()
    avro_lite.write_datum(buf, ["null", "long"], 5)
    assert buf.getvalue() == b"\x02\x0a"  # branch 1, zigzag(5)
    buf = io.BytesIO()
    avro_lite.write_datum(buf, ["null", "long"], None)
    assert buf.getvalue() == b"\x00"  # branch 0, no payload


# ----------------------------------------------------------- iceberg_lite


def test_roundtrip_matches_source(spark, sf_dir, tmp_path):
    path = str(tmp_path / "t")
    src = _orders(spark, sf_dir)
    write_iceberg(src, path)
    back = read_iceberg(spark, path)
    assert back.count() == src.count()
    a = sorted(tuple(r) for r in back.collect())
    b = sorted(tuple(r) for r in src.collect())
    assert a == b


def test_append_reuses_prior_manifests(spark, sf_dir, tmp_path):
    """The property that makes the format O(new files) per commit: an
    append's manifest list contains the PRIOR manifest paths verbatim
    plus one new manifest — nothing is rewritten."""
    path = str(tmp_path / "t")
    src = _orders(spark, sf_dir)
    write_iceberg(src.where("o_orderstatus = 'F'").coalesce(1), path)
    meta = load_metadata(path)
    snap1 = meta["snapshots"][-1]
    _, ml1 = avro_lite.read_container(snap1["manifest-list"])
    write_iceberg(
        src.where("o_orderstatus = 'O'").coalesce(1), path, mode="append"
    )
    meta = load_metadata(path)
    snap2 = meta["snapshots"][-1]
    _, ml2 = avro_lite.read_container(snap2["manifest-list"])
    assert len(ml2) == len(ml1) + 1
    assert ml2[0]["manifest_path"] == ml1[0]["manifest_path"]
    assert read_iceberg(spark, path).count() == src.where(
        "o_orderstatus IN ('F','O')"
    ).count()


def test_time_travel_by_snapshot_and_timestamp(spark, sf_dir, tmp_path):
    path = str(tmp_path / "t")
    src = _orders(spark, sf_dir)
    s1 = write_iceberg(
        src.where("o_orderstatus = 'F'"), path, commit_timestamp_ms=1_000
    )
    s2 = write_iceberg(
        src.where("o_orderstatus = 'O'"),
        path,
        mode="overwrite",
        commit_timestamp_ms=2_000,
    )
    n_f = src.where("o_orderstatus = 'F'").count()
    n_o = src.where("o_orderstatus = 'O'").count()
    assert read_iceberg(spark, path, snapshot_id=s1).count() == n_f
    assert read_iceberg(spark, path, snapshot_id=s2).count() == n_o
    assert read_iceberg(spark, path).count() == n_o
    assert (
        read_iceberg(spark, path, as_of_timestamp_ms=1_500).count() == n_f
    )
    with pytest.raises(ValueError):
        read_iceberg(spark, path, as_of_timestamp_ms=999)


def test_schema_enforced_append_evolving_overwrite(spark, sf_dir, tmp_path):
    from tscd_datalake_adapter_spark.sources.delta_lite import (
        DeltaSchemaError,
    )

    path = str(tmp_path / "t")
    src = _orders(spark, sf_dir).limit(50)
    s1 = write_iceberg(src, path)
    with pytest.raises(DeltaSchemaError):
        write_iceberg(
            src.withColumnRenamed("o_totalprice", "price"),
            path,
            mode="append",
        )
    write_iceberg(
        src.withColumnRenamed("o_totalprice", "price"),
        path,
        mode="overwrite",
    )
    assert "price" in read_iceberg(spark, path).columns
    # the OLD snapshot still reads with the OLD schema (schema-id pinned)
    assert "o_totalprice" in read_iceberg(
        spark, path, snapshot_id=s1
    ).columns
    meta = load_metadata(path)
    assert len(meta["schemas"]) == 2


def test_partition_pruning_from_manifests(spark, sf_dir, tmp_path):
    path = str(tmp_path / "t")
    src = _orders(spark, sf_dir).where(
        F.col("o_orderstatus").isin("F", "O")
    )
    write_iceberg(src, path, partition_by=("o_orderstatus",))
    only_f = read_iceberg(
        spark, path, partition_filter={"o_orderstatus": "F"}
    )
    assert all("o_orderstatus=F" in f for f in only_f.inputFiles())
    assert only_f.count() == src.where("o_orderstatus = 'F'").count()
    assert (
        read_iceberg(
            spark, path, partition_filter={"o_orderstatus": "X"}
        ).count()
        == 0
    )
    # pinned partitioning: a conflicting layout is refused
    with pytest.raises(ValueError):
        write_iceberg(src, path, mode="append", partition_by=())


def test_boolean_partition_roundtrip(spark, sf_dir, tmp_path):
    """ADVICE r9 (medium): a BOOLEAN identity partition — manifests
    store typed Python True/False while the hive path segment spells
    'true'/'false'; the manifest-vs-path cross-check must compare the
    hive serialization, not str(True)."""
    path = str(tmp_path / "t")
    src = _orders(spark, sf_dir).withColumn(
        "is_filled", F.col("o_orderstatus") == F.lit("F")
    )
    write_iceberg(src, path, partition_by=("is_filled",))
    got = read_iceberg(spark, path)
    assert got.count() == src.count()
    assert (
        got.where("is_filled").count()
        == src.where("o_orderstatus = 'F'").count()
    )
    # typed partition_filter prunes to the matching hive directory
    only_t = read_iceberg(spark, path, partition_filter={"is_filled": True})
    assert all("is_filled=true" in f for f in only_t.inputFiles())
    assert only_t.count() == src.where("o_orderstatus = 'F'").count()


def test_unlogged_file_is_invisible(spark, sf_dir, tmp_path):
    path = str(tmp_path / "t")
    src = _orders(spark, sf_dir).limit(100)
    write_iceberg(src.coalesce(1), path)
    n = read_iceberg(spark, path).count()
    stray = os.path.join(path, "data", "part-stray.parquet")
    src.limit(7).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(path, "data", "_tmp_stray")
    )
    import glob
    import shutil

    shutil.copy(
        glob.glob(os.path.join(path, "data", "_tmp_stray", "*.parquet"))[0],
        stray,
    )
    assert read_iceberg(spark, path).count() == n


def test_metadata_commit_conflict_raises(spark, sf_dir, tmp_path):
    from tscd_datalake_adapter_spark.sources.delta_lite import (
        ConcurrentWriteError,
    )
    from tscd_datalake_adapter_spark.sources.iceberg_lite import (
        _commit_metadata,
    )

    path = str(tmp_path / "t")
    write_iceberg(_orders(spark, sf_dir).limit(10), path)
    meta = load_metadata(path)
    _commit_metadata(path, 2, meta)
    with pytest.raises(ConcurrentWriteError):
        _commit_metadata(path, 2, meta)


def test_bucket_hash_spec_vectors():
    """The spec's appendix-B murmur3 test vectors pin the bucket hash:
    hash(34 as long) = 2017239379, hash('iceberg') = 1210000089."""
    import struct

    from tscd_datalake_adapter_spark.sources.iceberg_lite import (
        bucket_transform,
        murmur3_32,
    )

    assert murmur3_32(struct.pack("<q", 34)) == 2017239379
    assert murmur3_32(b"iceberg") == 1210000089
    assert bucket_transform(34, "long", 16) == 2017239379 % 16
    assert bucket_transform("iceberg", "string", 16) == 1210000089 % 16


def test_temporal_transform_partitioning(spark, sf_dir, tmp_path):
    """r9 verdict item 3: day/hour/month/year/bucket partition
    transforms — spec-correct transformed spec JSON, int-ordinal
    partition values in manifests, real-Iceberg hive spells on disk,
    manifest pruning on SOURCE-column predicates, pinned layout."""
    from tscd_datalake_adapter_spark.sources.iceberg_lite import (
        apply_transform,
        load_metadata,
    )

    path = str(tmp_path / "t")
    src = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    write_iceberg(
        src,
        path,
        partition_transforms=("month(o_orderdate)", "bucket(4, o_custkey)"),
    )
    spec = load_metadata(path)["partition-specs"][0]["fields"]
    assert [(f["name"], f["transform"]) for f in spec] == [
        ("o_orderdate_month", "month"),
        ("o_custkey_bucket", "bucket[4]"),
    ]
    got = read_iceberg(spark, path)
    # table schema holds ONLY source columns; derived path columns are
    # metadata-side
    assert [f.name for f in got.schema.fields] == [
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice",
    ]
    assert got.count() == src.count()
    # hive layout uses the human-readable month spell
    assert any(
        e.startswith("o_orderdate_month=19")
        for e in os.listdir(os.path.join(path, "data"))
    )

    # manifest pruning evaluates the transformed predicate: only months
    # >= month('1997-06-01') survive, and the result is exact
    pruned = read_iceberg(spark, path, where="o_orderdate >= '1997-06-01'")
    n_all = len(read_iceberg(spark, path).inputFiles())
    n_pruned = len(pruned.inputFiles())
    assert 0 < n_pruned < n_all
    cutoff_ord = apply_transform("month", "timestamptz", "1997-06-01")
    for f in pruned.inputFiles():
        seg = [
            s for s in f.split("/") if s.startswith("o_orderdate_month=")
        ][0].split("=", 1)[1]
        y, m = seg.split("-")
        assert (int(y) - 1970) * 12 + int(m) - 1 >= cutoff_ord
    assert (
        pruned.count()
        == src.where("o_orderdate >= '1997-06-01'").count()
    )
    # bucket equality pruning: exactly the matching bucket's files
    one_key = read_iceberg(spark, path, where="o_custkey = 371")
    assert one_key.count() == src.where("o_custkey = 371").count()
    assert len(one_key.inputFiles()) <= n_all // 4 + 1

    # the spec is pinned: a conflicting layout is refused, inheritance
    # works, appends land in the transformed layout
    with pytest.raises(ValueError):
        write_iceberg(
            src, path, mode="append", partition_by=("o_orderdate",)
        )
    write_iceberg(src.limit(10), path, mode="append")
    assert read_iceberg(spark, path).count() == src.count() + 10


def test_partitions_meta_from_manifests_only(spark, sf_dir, tmp_path):
    """partitions metadata table: per-partition file/record counts from
    manifests alone — correct after appends AND after a replace commit,
    and it never opens a data file (pinned by deleting them first)."""
    import glob

    from tscd_datalake_adapter_spark.sources.iceberg_lite import (
        partitions_meta,
    )

    path = str(tmp_path / "t")
    src = _orders(spark, sf_dir).limit(100)
    write_iceberg(src, path, partition_by=("o_orderstatus",))
    write_iceberg(src, path, mode="append")
    got = {
        r["o_orderstatus"]: (r["file_count"], r["record_count"])
        for r in partitions_meta(spark, path).collect()
    }
    expect = {
        r["o_orderstatus"]: r["n"]
        for r in src.groupBy("o_orderstatus")
        .count()
        .withColumnRenamed("count", "n")
        .collect()
    }
    assert set(got) == set(expect)
    for k, n in expect.items():
        assert got[k][1] == 2 * n  # two appends
        assert got[k][0] >= 2
    # manifest-only: physically delete every data file; counts unchanged
    for f in glob.glob(os.path.join(path, "data", "**", "*.parquet"),
                       recursive=True):
        os.unlink(f)
    again = {
        r["o_orderstatus"]: (r["file_count"], r["record_count"])
        for r in partitions_meta(spark, path).collect()
    }
    assert again == got


def test_incremental_append_scan(spark, sf_dir, tmp_path):
    """The spec's incremental append scan: exactly the rows added by
    snapshots after `from`, stamped with _snapshot_id; reused manifests
    (append commits reuse prior manifests) must NOT re-surface older
    rows; a non-append snapshot in range raises."""
    from tscd_datalake_adapter_spark.sources.iceberg_lite import (
        read_iceberg_incremental,
        snapshots,
    )

    path = str(tmp_path / "t")
    src = _orders(spark, sf_dir).select("o_orderkey", "o_totalprice")
    slices = [(0, 300), (300, 700), (700, 1200)]
    for lo, hi in slices:
        write_iceberg(
            src.where(f"o_orderkey >= {lo} AND o_orderkey < {hi}"),
            path,
            mode="append",
        )
    snaps = snapshots(path)
    inc = read_iceberg_incremental(spark, path, snaps[0]["snapshot_id"])
    expect = src.where("o_orderkey >= 300 AND o_orderkey < 1200")
    assert inc.count() == expect.count()
    by_snap = {
        r["_snapshot_id"]: r["count"]
        for r in inc.groupBy("_snapshot_id").count().collect()
    }
    assert by_snap == {
        snaps[1]["snapshot_id"]: src.where(
            "o_orderkey >= 300 AND o_orderkey < 700"
        ).count(),
        snaps[2]["snapshot_id"]: src.where(
            "o_orderkey >= 700 AND o_orderkey < 1200"
        ).count(),
    }
    # bounded range: just the middle snapshot
    mid = read_iceberg_incremental(
        spark, path, snaps[0]["snapshot_id"], snaps[1]["snapshot_id"]
    )
    assert mid.count() == by_snap[snaps[1]["snapshot_id"]]
    # a rewrite inside the range is undefined for an append scan
    write_iceberg(src.limit(5), path, mode="overwrite")
    with pytest.raises(ValueError, match="not an append"):
        read_iceberg_incremental(spark, path, snaps[0]["snapshot_id"])


def test_null_value_counts_skipping(spark, sf_dir, tmp_path):
    """r10 (mirror of delta nullCount): manifest entries carry the
    spec's null_value_counts; ``IS NULL`` prunes zero-null files,
    ``IS NOT NULL`` prunes all-null files (which have no bounds at all),
    results equal the full-scan filter."""
    from pyspark.sql import types as T

    path = str(tmp_path / "t")
    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("v", T.StringType()),
        ]
    )
    no_nulls = spark.createDataFrame([(1, "a"), (2, "b")], schema)
    all_nulls = spark.createDataFrame([(3, None), (4, None)], schema)
    mixed = spark.createDataFrame([(5, "c"), (6, None)], schema)
    for df in (no_nulls, all_nulls, mixed):
        write_iceberg(df.coalesce(1), path, mode="append")

    isnull = read_iceberg(spark, path, where="v IS NULL")
    assert len(isnull.inputFiles()) == 2  # zero-null file pruned
    assert sorted(r.k for r in isnull.collect()) == [3, 4, 6]
    notnull = read_iceberg(spark, path, where="v IS NOT NULL")
    assert len(notnull.inputFiles()) == 2  # all-null file pruned
    assert sorted(r.k for r in notnull.collect()) == [1, 2, 5]
    # a replace_partitions rewrite carries EXISTING entries written
    # before this field existed without corrupting them (write_datum
    # defaults the absent field to null) — simulate by dropping the key
    both = read_iceberg(spark, path, where="v IS NOT NULL AND k >= 5")
    assert sorted(r.k for r in both.collect()) == [5]


def test_truncate_transform_int_and_string(spark, sf_dir, tmp_path):
    """truncate[W] (spec): ints floor to the bucket start (negatives
    included), strings keep the first W chars; both are order-preserving
    so range predicates prune through the transform."""
    from tscd_datalake_adapter_spark.sources.iceberg_lite import (
        apply_transform,
        load_metadata,
    )

    # spec semantics incl. the negative floor-mod case
    assert apply_transform("truncate", "long", 17, 10) == 10
    assert apply_transform("truncate", "long", -3, 10) == -10
    assert apply_transform("truncate", "string", "iceberg", 3) == "ice"

    path = str(tmp_path / "t")
    src = _orders(spark, sf_dir)
    write_iceberg(
        src, path, partition_transforms=("truncate(500, o_orderkey)",)
    )
    spec = load_metadata(path)["partition-specs"][0]["fields"]
    assert spec[0]["transform"] == "truncate[500]"
    got = read_iceberg(spark, path)
    assert got.count() == src.count()
    pruned = read_iceberg(spark, path, where="o_orderkey >= 900")
    assert 0 < len(pruned.inputFiles()) < len(got.inputFiles())
    # only buckets whose START >= truncate(900)=500 survive
    for f in pruned.inputFiles():
        seg = [
            s for s in f.split("/")
            if s.startswith("o_orderkey_truncate=")
        ][0].split("=", 1)[1]
        assert int(seg) >= 500
    assert (
        pruned.count() == src.where("o_orderkey >= 900").count()
    )


def test_hour_transform_and_time_travel(spark, sf_dir, tmp_path):
    """hour() on a timestamp column + snapshot time travel across a
    transformed table."""
    from pyspark.sql import functions as F

    from tscd_datalake_adapter_spark.sources.iceberg_lite import snapshots

    path = str(tmp_path / "t")
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "value"
    )
    write_iceberg(
        ev, path, partition_transforms=("hour(ts)",),
        commit_timestamp_ms=1_000,
    )
    write_iceberg(
        ev.limit(5), path, mode="append", commit_timestamp_ms=2_000
    )
    assert read_iceberg(spark, path).count() == ev.count() + 5
    first = snapshots(path)[0]["snapshot_id"]
    assert read_iceberg(spark, path, snapshot_id=first).count() == ev.count()
    # hour segments spell yyyy-MM-dd-HH
    segs = [
        e for e in os.listdir(os.path.join(path, "data"))
        if e.startswith("ts_hour=")
    ]
    assert segs and all(
        len(s.split("=", 1)[1].split("-")) == 4 for s in segs
    )


def test_non_identity_transform_refused(spark, sf_dir, tmp_path):
    path = str(tmp_path / "t")
    write_iceberg(
        _orders(spark, sf_dir).limit(10),
        path,
        partition_by=("o_orderstatus",),
    )
    meta_file = os.path.join(path, "metadata", "v1.metadata.json")
    meta = json.load(open(meta_file, encoding="utf-8"))
    # void is a real spec transform this module does NOT implement
    meta["partition-specs"][0]["fields"][0]["transform"] = "void"
    json.dump(meta, open(meta_file, "w", encoding="utf-8"))
    with pytest.raises(NotImplementedError):
        read_iceberg(spark, path)


def test_higher_format_version_refused(spark, sf_dir, tmp_path):
    path = str(tmp_path / "t")
    write_iceberg(_orders(spark, sf_dir).limit(10), path)
    meta_file = os.path.join(path, "metadata", "v1.metadata.json")
    meta = json.load(open(meta_file, encoding="utf-8"))
    meta["format-version"] = 4
    json.dump(meta, open(meta_file, "w", encoding="utf-8"))
    with pytest.raises(NotImplementedError):
        read_iceberg(spark, path)


def test_version_hint_recovery(spark, sf_dir, tmp_path):
    """The hint file is a pointer, not the truth: deleting it must not
    break reads (readers recover via the max-vN scan the spec allows)."""
    path = str(tmp_path / "t")
    src = _orders(spark, sf_dir).limit(100)
    write_iceberg(src, path)
    write_iceberg(src.limit(10), path, mode="append")
    os.unlink(os.path.join(path, "metadata", "version-hint.text"))
    assert read_iceberg(spark, path).count() == 110


def test_expire_snapshots_deletes_dead_files(spark, sf_dir, tmp_path):
    path = str(tmp_path / "t")
    src = _orders(spark, sf_dir)
    s1 = write_iceberg(src.where("o_orderstatus = 'F'"), path)
    write_iceberg(src.where("o_orderstatus = 'O'"), path, mode="overwrite")
    n_o = src.where("o_orderstatus = 'O'").count()
    deleted = expire_snapshots(path, keep_last=1)
    assert deleted  # the F files were referenced only by the old snapshot
    assert read_iceberg(spark, path).count() == n_o
    with pytest.raises(ValueError):
        read_iceberg(spark, path, snapshot_id=s1)
    assert len(snapshots(path)) == 1
    # idempotent when nothing to expire
    assert expire_snapshots(path, keep_last=1) == []


def test_empty_overwrite_reads_back_empty_with_schema(
    spark, sf_dir, tmp_path
):
    path = str(tmp_path / "t")
    src = _orders(spark, sf_dir)
    write_iceberg(src.limit(10), path)
    write_iceberg(src.limit(0), path, mode="overwrite")
    back = read_iceberg(spark, path)
    assert back.count() == 0
    assert back.columns == src.columns


# ------------------------------------------------- avro_lite property tests

try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    _HYP = True
except ImportError:  # pragma: no cover
    _HYP = False


if _HYP:
    _prim = st.one_of(
        st.integers(min_value=-(2**62), max_value=2**62).map(
            lambda v: ("long", v)
        ),
        st.booleans().map(lambda v: ("boolean", v)),
        st.floats(allow_nan=False, allow_infinity=False, width=64).map(
            lambda v: ("double", v)
        ),
        st.text(max_size=40).map(lambda v: ("string", v)),
        st.binary(max_size=40).map(lambda v: ("bytes", v)),
    )

    @st.composite
    def _record_batch(draw):
        """A random flat record schema + a batch of conforming values."""
        n_fields = draw(st.integers(min_value=1, max_value=6))
        fields = []
        gens = []
        for i in range(n_fields):
            kind = draw(
                st.sampled_from(
                    ["prim", "optional", "array", "map"]
                )
            )
            t, v = draw(_prim)
            if kind == "prim":
                fields.append({"name": f"f{i}", "type": t})
                gens.append((f"f{i}", t, "prim"))
            elif kind == "optional":
                fields.append(
                    {
                        "name": f"f{i}",
                        "type": ["null", t],
                        "default": None,
                    }
                )
                gens.append((f"f{i}", t, "optional"))
            elif kind == "array":
                fields.append(
                    {"name": f"f{i}", "type": {"type": "array", "items": t}}
                )
                gens.append((f"f{i}", t, "array"))
            else:
                fields.append(
                    {"name": f"f{i}", "type": {"type": "map", "values": t}}
                )
                gens.append((f"f{i}", t, "map"))
        schema = {"type": "record", "name": "r", "fields": fields}

        def one_value(t):
            m = {
                "long": st.integers(
                    min_value=-(2**62), max_value=2**62
                ),
                "boolean": st.booleans(),
                "double": st.floats(
                    allow_nan=False, allow_infinity=False, width=64
                ),
                "string": st.text(max_size=20),
                "bytes": st.binary(max_size=20),
            }
            return m[t]

        n_recs = draw(st.integers(min_value=0, max_value=5))
        records = []
        for _ in range(n_recs):
            rec = {}
            for name, t, kind in gens:
                if kind == "prim":
                    rec[name] = draw(one_value(t))
                elif kind == "optional":
                    rec[name] = draw(
                        st.one_of(st.none(), one_value(t))
                    )
                elif kind == "array":
                    rec[name] = draw(
                        st.lists(one_value(t), max_size=4)
                    )
                else:
                    rec[name] = draw(
                        st.dictionaries(
                            st.text(max_size=8), one_value(t), max_size=3
                        )
                    )
            records.append(rec)
        return schema, records

    @settings(max_examples=60, deadline=None)
    @given(_record_batch(), st.sampled_from(["null", "deflate"]))
    def test_avro_property_roundtrip(tmp_path_factory, batch, codec):
        schema, records = batch
        p = str(
            tmp_path_factory.mktemp("avro_prop") / "t.avro"
        )
        avro_lite.write_container(p, schema, records, codec=codec)
        got_schema, got = avro_lite.read_container(p)
        assert got_schema == schema
        assert got == records


def test_where_predicate_skips_files_by_manifest_bounds(
    spark, sf_dir, tmp_path
):
    """Data skipping from the manifests' per-column bounds (r9): three
    key-ranged appends; a high-key `where` reads ONE file, results are
    exactly the full-scan filter, and the bounds round-trip the spec's
    single-value binary serialization (little-endian longs)."""
    path = str(tmp_path / "t")
    src = _orders(spark, sf_dir).select("o_orderkey", "o_totalprice")
    for lo, hi in ((0, 500), (500, 1000), (1000, 1500)):
        write_iceberg(
            src.where(
                f"o_orderkey >= {lo} AND o_orderkey < {hi}"
            ).coalesce(1),
            path,
            mode="append",
        )
    skipped = read_iceberg(spark, path, where="o_orderkey >= 1200")
    assert len(skipped.inputFiles()) == 1
    expected = sorted(
        tuple(r)
        for r in read_iceberg(spark, path)
        .where("o_orderkey >= 1200")
        .collect()
    )
    assert sorted(tuple(r) for r in skipped.collect()) == expected
    # the raw manifest bounds are spec-serialized (8-byte LE longs)
    meta = load_metadata(path)
    snap = meta["snapshots"][-1]
    _, manifests = avro_lite.read_container(snap["manifest-list"])
    _, entries = avro_lite.read_container(manifests[0]["manifest_path"])
    df0 = entries[0]["data_file"]
    lows = {kv["key"]: kv["value"] for kv in df0["lower_bounds"]}
    assert any(len(v) == 8 for v in lows.values())
    # ORs disable pruning but never change results
    both = read_iceberg(
        spark, path, where="o_orderkey = 10 OR o_orderkey = 1400"
    )
    assert len(both.inputFiles()) == 3
    assert both.count() == 2


def test_replace_partitions_carries_existing_entries(
    spark, sf_dir, tmp_path
):
    """replace_partitions (r9): entries outside the named partitions are
    carried as status=EXISTING with their ORIGINAL sequence numbers; a
    named partition with no new rows is dropped outright."""
    path = str(tmp_path / "t")
    src = _orders(spark, sf_dir).where(
        F.col("o_orderstatus").isin("F", "O", "P")
    )
    write_iceberg(src, path, partition_by=("o_orderstatus",))
    n_f = src.where("o_orderstatus = 'F'").count()
    n_o = src.where("o_orderstatus = 'O'").count()

    one_p = src.where("o_orderstatus = 'P'").limit(1)
    write_iceberg(
        one_p,
        path,
        mode="overwrite",
        replace_partitions=[{"o_orderstatus": "P"}],
    )
    back = read_iceberg(spark, path)
    assert back.where("o_orderstatus = 'P'").count() == 1
    assert back.where("o_orderstatus = 'F'").count() == n_f
    assert back.where("o_orderstatus = 'O'").count() == n_o
    # the carried entries kept their original sequence number (1), the
    # added entry carries the new one (2)
    meta = load_metadata(path)
    snap = meta["snapshots"][-1]
    _, manifests = avro_lite.read_container(snap["manifest-list"])
    assert len(manifests) == 1
    assert manifests[0]["existing_files_count"] >= 2
    assert manifests[0]["min_sequence_number"] == 1
    _, entries = avro_lite.read_container(manifests[0]["manifest_path"])
    seqs = {(e["status"], e["sequence_number"]) for e in entries}
    assert (0, 1) in seqs and (1, 2) in seqs

    # drop P entirely: named with zero new rows
    write_iceberg(
        src.where("o_orderstatus = 'NOPE'"),
        path,
        mode="overwrite",
        replace_partitions=[{"o_orderstatus": "P"}],
    )
    back2 = read_iceberg(spark, path)
    assert back2.where("o_orderstatus = 'P'").count() == 0
    assert back2.where("o_orderstatus = 'F'").count() == n_f


def test_cross_format_consistency_delta_vs_iceberg(spark, sf_dir, tmp_path):
    """The two in-repo table formats must agree cell-for-cell on the same
    commit sequence (overwrite, append, partition replace) — a
    cross-IMPLEMENTATION oracle: delta_lite and iceberg_lite share no
    metadata code, so agreement means neither log loses or duplicates a
    file."""
    from tscd_datalake_adapter_spark.sources.delta_lite import (
        read_delta,
        write_delta,
    )

    src = _orders(spark, sf_dir)
    dpath, ipath = str(tmp_path / "d"), str(tmp_path / "i")
    steps = [
        (dict(mode="overwrite", partition_by=("o_orderstatus",)),
         src.where("o_orderstatus IN ('F','O','P')")),
        (dict(mode="append"), src.where("o_orderstatus = 'F'").limit(20)),
        (dict(mode="overwrite",
              replace_partitions=[{"o_orderstatus": "P"}]),
         src.where("o_orderstatus = 'P'").limit(3)),
    ]
    for kw, df in steps:
        write_delta(df, dpath, **kw)
        write_iceberg(df, ipath, **kw)
    a = sorted(tuple(r) for r in read_delta(spark, dpath).collect())
    b = sorted(tuple(r) for r in read_iceberg(spark, ipath).collect())
    assert a == b and len(a) > 0


def test_remove_orphan_files_cleans_unreferenced_parquet(
    spark, sf_dir, tmp_path
):
    from tscd_datalake_adapter_spark.sources.iceberg_lite import (
        remove_orphan_files,
    )

    path = str(tmp_path / "t")
    src = _orders(spark, sf_dir).limit(100)
    write_iceberg(src.coalesce(1), path)
    n = read_iceberg(spark, path).count()
    # plant an orphan (a crashed writer's moved-but-uncommitted file)
    import glob
    import shutil

    real = glob.glob(os.path.join(path, "data", "*.parquet"))[0]
    orphan = os.path.join(path, "data", "part-orphan.parquet")
    shutil.copy(real, orphan)
    deleted = remove_orphan_files(path)
    assert deleted == [orphan]
    assert read_iceberg(spark, path).count() == n
    assert remove_orphan_files(path) == []  # idempotent


def _strip_mode_from_summaries(path):
    """Simulate a table written by the pre-r10 engine: remove the 'mode'
    summary key from every snapshot, leaving only the free-form
    operation label (e.g. INGEST for appends, MERGE for rewrites)."""
    from tscd_datalake_adapter_spark.sources.iceberg_lite import (
        _current_version,
        _metadata_file,
    )

    v = _current_version(path)
    f = _metadata_file(path, v)
    with open(f, encoding="utf-8") as fh:
        meta = json.load(fh)
    for s in meta["snapshots"]:
        s["summary"].pop("mode", None)
    with open(f, "w", encoding="utf-8") as fh:
        json.dump(meta, fh, separators=(",", ":"))


def test_incremental_scan_classifies_pre_mode_snapshots(
    spark, sf_dir, tmp_path
):
    """r10 ADVICE: snapshots written before the 'mode' summary key carry
    only free-form labels ('INGEST' for appends, 'MERGE' for rewrites) —
    append-ness must be inferred from the MANIFEST LIST, not the label.
    Pre-r10 INGEST appends must flow through the incremental scan (not
    raise, not vanish under skip_non_append); a pre-r10 MERGE rewrite
    must still be classified as a rewrite."""
    from tscd_datalake_adapter_spark.sources.iceberg_lite import (
        read_iceberg_incremental,
    )
    from tscd_datalake_adapter_spark.sources.iceberg_lite import (
        snapshots as _snaps,
    )

    path = str(tmp_path / "t")
    src = _orders(spark, sf_dir).select("o_orderkey", "o_totalprice")
    write_iceberg(src.where("o_orderkey < 300"), path, mode="append",
                  operation="INGEST")
    write_iceberg(
        src.where("o_orderkey >= 300 AND o_orderkey < 700"),
        path, mode="append", operation="INGEST",
    )
    _strip_mode_from_summaries(path)
    snaps = _snaps(path)

    # plain incremental scan over label-only appends: must NOT raise
    inc = read_iceberg_incremental(spark, path, snaps[0]["snapshot_id"])
    assert inc.count() == src.where(
        "o_orderkey >= 300 AND o_orderkey < 700"
    ).count()
    # and skip_non_append must NOT silently drop them
    inc2 = read_iceberg_incremental(
        spark, path, snaps[0]["snapshot_id"], skip_non_append=True
    )
    assert inc2.count() == inc.count()

    # a label-only REWRITE is still classified as one (manifest list
    # drops prior manifests / carries EXISTING entries)
    write_iceberg(src.limit(5), path, mode="overwrite", operation="MERGE")
    _strip_mode_from_summaries(path)
    with pytest.raises(ValueError, match="not an append"):
        read_iceberg_incremental(spark, path, snaps[0]["snapshot_id"])
    # replace_partitions rewrites carry EXISTING entries — also caught
    path2 = str(tmp_path / "t2")
    part = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    write_iceberg(part.where("o_orderkey < 300"), path2, mode="append",
                  partition_by=("o_orderstatus",), operation="INGEST")
    first = _snaps(path2)[0]["snapshot_id"]
    write_iceberg(
        part.where("o_orderkey < 100 AND o_orderstatus = 'O'"),
        path2, mode="overwrite",
        replace_partitions=[{"o_orderstatus": "O"}],
        operation="MERGE",
    )
    _strip_mode_from_summaries(path2)
    with pytest.raises(ValueError, match="not an append"):
        read_iceberg_incremental(spark, path2, first)


def test_bucket_transform_nullable_and_large_longs(spark, sf_dir, tmp_path):
    """r10 ADVICE: nullable int/long columns reach the bucket pandas_udf
    as float64 with NaN under Arrow→pandas — int(NaN) raised on write,
    and longs above 2^53 silently rounded to a WRONG bucket, so read-side
    bucket-equality pruning skipped the file holding them. The write-side
    derivation is now cast to string JVM-side (exact for any long); nulls
    land in the null partition and big longs are found by pruned reads."""
    from pyspark.sql import types as T

    # unrepresentable in float64 (rounds to 2^60), and chosen so the
    # rounded value lands in a DIFFERENT bucket (5 vs 0 mod 8) — the
    # pre-fix float64 path would have pruned away the file holding it
    big = (1 << 60) + 1
    rows = [(1, 10), (2, None), (3, big), (4, big + 1), (5, 7)]
    df = spark.createDataFrame(
        rows,
        T.StructType([
            T.StructField("id", T.IntegerType(), False),
            T.StructField("k", T.LongType(), True),
        ]),
    )
    path = str(tmp_path / "t")
    write_iceberg(
        df, path, partition_transforms=("bucket(8, k)",), mode="append"
    )
    got = read_iceberg(spark, path)
    assert sorted(tuple(r) for r in got.collect()) == sorted(rows)
    # the pruned equality read finds the 2^60-scale key: its bucket was
    # computed from the exact long, not a float64 rounding of it
    hit = read_iceberg(spark, path, where=f"k = {big}")
    assert [tuple(r) for r in hit.collect()] == [(3, big)]
    # and the bucket matches the spec hash of the EXACT value
    from tscd_datalake_adapter_spark.sources.iceberg_lite import (
        bucket_transform,
    )

    assert int(float(big)) != big  # float64 really would move it …
    assert bucket_transform(big, "long", 8) != bucket_transform(
        int(float(big)), "long", 8
    )  # … into a different bucket


def test_delete_iceberg_row_level_copy_on_write(spark, sf_dir, tmp_path):
    """r11 (r10 verdict item 1): DELETE FROM ... WHERE on iceberg_lite —
    bounds-pruned copy-on-write as ONE snapshot. Untouched files are
    carried as EXISTING entries byte-identical (same file_path); time
    travel to the pre-delete snapshot is intact; NULL predicates keep
    rows; a no-match delete commits nothing; a stale rewrite collides."""
    from tscd_datalake_adapter_spark.sources.iceberg_lite import (
        _snapshot_by_id,
        _snapshot_files,
        commit_snapshot,
        delete_iceberg,
        load_metadata,
    )

    path = str(tmp_path / "t")
    src = (
        _orders(spark, sf_dir)
        .select("o_orderkey", "o_totalprice")
        .where("o_orderkey < 2000")
        .repartitionByRange(4, "o_orderkey")
        .sortWithinPartitions("o_orderkey")
    )
    write_iceberg(src, path, mode="append")

    meta = load_metadata(path)
    files_before = {
        f["file_path"]: f["record_count"]
        for f in _snapshot_files(
            meta, _snapshot_by_id(meta, meta["current-snapshot-id"])
        )
    }
    assert len(files_before) == 4
    pre_snap = meta["current-snapshot-id"]

    lo_key = src.agg(F.min("o_orderkey")).first()[0]
    res = delete_iceberg(spark, path, f"o_orderkey = {lo_key}")
    assert res["deleted_rows"] == 1
    # bounds pruning: only the one range-file containing lo_key rewrote
    assert res["rewritten_files"] == 1
    meta2 = load_metadata(path)
    files_after = {
        f["file_path"]: f["record_count"]
        for f in _snapshot_files(
            meta2, _snapshot_by_id(meta2, meta2["current-snapshot-id"])
        )
    }
    survivors = set(files_before) & set(files_after)
    assert len(survivors) == 3  # carried as EXISTING, not rewritten
    for p in survivors:
        assert files_after[p] == files_before[p]
    # content: exactly the predicate's complement
    got = read_iceberg(spark, path)
    expect = src.where(f"o_orderkey <> {lo_key}")
    assert got.count() == expect.count() == src.count() - 1
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, expect.collect())
    )
    # the snapshot records the spec's deleted-records summary + DELETE op
    snap2 = _snapshot_by_id(meta2, meta2["current-snapshot-id"])
    assert snap2["summary"]["operation"] == "DELETE"
    assert snap2["summary"]["deleted-records"] == "1"
    assert snap2["summary"]["mode"] == "overwrite"
    # time travel: the pre-delete snapshot still serves the deleted row
    trav = read_iceberg(spark, path, snapshot_id=pre_snap)
    assert trav.where(f"o_orderkey = {lo_key}").count() == 1

    # no-match delete: bounds-pruned to zero candidates, NO commit
    v_before = len(load_metadata(path)["snapshots"])
    res = delete_iceberg(spark, path, "o_orderkey = -17")
    assert res["deleted_rows"] == 0 and res["rewritten_files"] == 0
    assert len(load_metadata(path)["snapshots"]) == v_before
    # candidates-but-no-matches (bounds can't disprove inequality pairs
    # inside a range): also no commit
    mid = lo_key + 1
    res = delete_iceberg(
        spark, path, f"o_orderkey > {mid} AND o_orderkey < {mid + 1}"
    )
    assert res["deleted_rows"] == 0
    assert len(load_metadata(path)["snapshots"]) == v_before

    # NULL predicate keeps rows: add a row with NULL key, delete on it
    from pyspark.sql import Row, types as T

    null_df = spark.createDataFrame(
        [Row(o_orderkey=None, o_totalprice=None)],
        T.StructType([
            T.StructField("o_orderkey", T.LongType(), True),
            T.StructField(
                "o_totalprice",
                read_iceberg(spark, path).schema["o_totalprice"].dataType,
                True,
            ),
        ]),
    )
    write_iceberg(null_df, path, mode="append")
    res = delete_iceberg(spark, path, "o_orderkey > 0")
    got = read_iceberg(spark, path)
    assert got.count() == 1  # only the NULL-key row survives
    assert got.first()["o_orderkey"] is None

    # a stale rewrite (file no longer live) collides loudly
    with pytest.raises(ValueError, match="not live in the current"):
        commit_snapshot(
            path, [], got.schema, mode="overwrite",
            replace_paths=[sorted(files_before)[0]],
        )


def test_merge_iceberg_empty_updates_rewrite_every_file(
    spark, sf_dir, tmp_path
):
    """merge_iceberg's bounds pruning needs an update range: an empty
    update set rewrites every live file, rows unchanged."""
    from tscd_datalake_adapter_spark.sources.iceberg_lite import (
        _snapshot_by_id,
        _snapshot_files,
        merge_iceberg,
    )

    def live(path):
        meta = load_metadata(path)
        snap = _snapshot_by_id(meta, meta["current-snapshot-id"])
        return {f["file_path"] for f in _snapshot_files(meta, snap)}

    path = str(tmp_path / "t")
    src = (
        _orders(spark, sf_dir)
        .select("o_orderkey", "o_totalprice")
        .where("o_orderkey < 2000")
        .repartitionByRange(4, "o_orderkey")
    )
    write_iceberg(src, path, mode="append")
    before = live(path)
    assert len(before) == 4
    merge_iceberg(spark, path, src.limit(0), "o_orderkey")
    assert not live(path) & before
    assert sorted(map(tuple, read_iceberg(spark, path).collect())) == sorted(
        map(tuple, src.collect())
    )


def test_merge_iceberg_upsert_bounds_pruned(spark, sf_dir, tmp_path):
    """r11: MERGE (upsert by key) on iceberg_lite — the format twin of
    merge_delta. Bounds-pruned: only files whose key range intersects
    the update set rewrite; the rest carry as EXISTING. Same-key rows
    replaced, new keys appended, one MERGE snapshot."""
    from pyspark.sql import types as T

    from tscd_datalake_adapter_spark.sources.iceberg_lite import (
        _snapshot_by_id,
        _snapshot_files,
        merge_iceberg,
    )

    path = str(tmp_path / "t")
    src = (
        _orders(spark, sf_dir)
        .select("o_orderkey", "o_totalprice")
        .where("o_orderkey < 2000")
        .repartitionByRange(4, "o_orderkey")
        .sortWithinPartitions("o_orderkey")
    )
    write_iceberg(src, path, mode="append")
    meta = load_metadata(path)
    files_before = {
        f["file_path"]
        for f in _snapshot_files(
            meta, _snapshot_by_id(meta, meta["current-snapshot-id"])
        )
    }
    assert len(files_before) == 4

    keys = [r["o_orderkey"] for r in src.orderBy("o_orderkey").limit(3).collect()]
    price_t = src.schema["o_totalprice"].dataType
    updates = spark.createDataFrame(
        [(int(k), 1.0) for k in keys] + [(10**9, 2.0)],
        T.StructType([
            T.StructField("o_orderkey", T.LongType(), True),
            T.StructField("o_totalprice", T.DoubleType(), True),
        ]),
    ).withColumn("o_totalprice", F.col("o_totalprice").cast(price_t))
    # updates span the low range + a brand-new high key: the range
    # [min, max] overlaps ... actually covers everything; use two merges
    # to pin pruning: first a low-only update set
    low_updates = updates.where("o_orderkey < 2000")
    merge_iceberg(spark, path, low_updates, "o_orderkey")
    meta2 = load_metadata(path)
    snap2 = _snapshot_by_id(meta2, meta2["current-snapshot-id"])
    assert snap2["summary"]["operation"] == "MERGE"
    files_after = {
        f["file_path"] for f in _snapshot_files(meta2, snap2)
    }
    # the 3 updated keys are the 3 lowest → only the lowest range file
    # rewrote; the other 3 carried as EXISTING
    assert len(files_before & files_after) == 3
    got = read_iceberg(spark, path)
    assert got.count() == src.count()
    assert {
        r["o_orderkey"]: r["o_totalprice"]
        for r in got.where(
            f"o_orderkey IN ({','.join(str(k) for k in keys)})"
        ).collect()
    } == {k: 1.0 for k in keys}
    # untouched rows identical
    rest = got.where(
        f"o_orderkey NOT IN ({','.join(str(k) for k in keys)})"
    )
    expect_rest = src.where(
        f"o_orderkey NOT IN ({','.join(str(k) for k in keys)})"
    )
    assert sorted(map(tuple, rest.collect())) == sorted(
        map(tuple, expect_rest.collect())
    )

    # new-key insert via merge
    merge_iceberg(
        spark, path, updates.where("o_orderkey = 1000000000"),
        "o_orderkey",
    )
    got = read_iceberg(spark, path)
    assert got.count() == src.count() + 1
    assert got.where("o_orderkey = 1000000000").first()[
        "o_totalprice"
    ] == 2.0


def test_update_iceberg_row_level(spark, sf_dir, tmp_path):
    """r11: copy-on-write UPDATE ... SET ... WHERE on iceberg_lite —
    bounds-pruned rewrite, matched rows transformed, schema preserved,
    partition-column SET refused, no-match commits nothing."""
    from tscd_datalake_adapter_spark.sources.iceberg_lite import (
        update_iceberg,
    )

    path = str(tmp_path / "t")
    src = (
        _orders(spark, sf_dir)
        .where("o_orderkey < 2000")
        .repartitionByRange(4, "o_orderkey")
        .sortWithinPartitions("o_orderkey")
    )
    write_iceberg(src, path, mode="append",
                  partition_by=("o_orderstatus",))

    lo_key = src.agg(F.min("o_orderkey")).first()[0]
    res = update_iceberg(
        spark, path, f"o_orderkey = {lo_key}",
        {"o_totalprice": "o_totalprice * 2"},
    )
    assert res["updated_rows"] == 1
    got = read_iceberg(spark, path)
    assert got.schema["o_totalprice"].dataType == src.schema[
        "o_totalprice"
    ].dataType
    old = src.where(f"o_orderkey = {lo_key}").first()["o_totalprice"]
    new = got.where(f"o_orderkey = {lo_key}").first()["o_totalprice"]
    assert float(new) == float(old) * 2
    # every other row untouched
    a = sorted(
        map(tuple, got.where(f"o_orderkey <> {lo_key}")
            .select(*src.columns).collect())
    )
    b = sorted(
        map(tuple, src.where(f"o_orderkey <> {lo_key}").collect())
    )
    assert a == b
    # snapshot records the UPDATE summary
    meta = load_metadata(path)
    last = meta["snapshots"][-1]
    assert last["summary"]["operation"] == "UPDATE"
    assert last["summary"]["updated-records"] == "1"

    # no-match: no commit
    n_snaps = len(meta["snapshots"])
    res = update_iceberg(
        spark, path, "o_orderkey = -1", {"o_totalprice": "0.0"}
    )
    assert res["updated_rows"] == 0
    assert len(load_metadata(path)["snapshots"]) == n_snaps

    # partition-source SET refused
    with pytest.raises(ValueError, match="partition source"):
        update_iceberg(
            spark, path, "o_orderkey > 0", {"o_orderstatus": "'X'"}
        )


def test_nested_columns_roundtrip(spark, sf_dir, tmp_path):
    """r11: struct/list/map columns round-trip through iceberg_lite with
    spec-shaped schema JSON — nested field/element/key/value ids unique
    across the schema, last-column-id covering them, bounds-based
    skipping still working on sibling primitive columns (nested columns
    simply carry no bounds = may-match), appends schema-checked, and
    partitioning by a nested column refused."""
    from pyspark.sql import types as T

    from tscd_datalake_adapter_spark.sources.delta_lite import (
        DeltaSchemaError,
    )
    from tscd_datalake_adapter_spark.sources.iceberg_lite import (
        _max_field_id,
    )

    path = str(tmp_path / "t")
    src = (
        _orders(spark, sf_dir)
        .where("o_orderkey < 1000")
        .select(
            "o_orderkey",
            F.struct(
                F.col("o_orderstatus").alias("status"),
                F.col("o_totalprice").alias("price"),
            ).alias("info"),
            F.array(
                F.col("o_orderkey"), F.col("o_orderkey") * 2
            ).alias("keys"),
            F.create_map(
                F.lit("status"), F.col("o_orderstatus")
            ).alias("attrs"),
        )
    )
    write_iceberg(src, path, mode="append")
    got = read_iceberg(spark, path)
    # nullability is not part of the schema contract (see
    # _schema_fingerprint); simpleString compares structure + types
    assert got.schema.simpleString() == src.schema.simpleString()
    a = sorted(
        (r["o_orderkey"], tuple(r["info"]), tuple(r["keys"]),
         tuple(sorted(r["attrs"].items())))
        for r in got.collect()
    )
    b = sorted(
        (r["o_orderkey"], tuple(r["info"]), tuple(r["keys"]),
         tuple(sorted(r["attrs"].items())))
        for r in src.collect()
    )
    assert a == b

    # spec shape: nested ids unique, allocated above the top-level ids,
    # and last-column-id covers the maximum
    meta = load_metadata(path)
    schema = meta["schemas"][-1]
    ids: list[int] = []

    def walk(t):
        if not isinstance(t, dict):
            return
        if t["type"] == "struct":
            for f in t["fields"]:
                ids.append(f["id"])
                walk(f["type"])
        elif t["type"] == "list":
            ids.append(t["element-id"])
            walk(t["element"])
        elif t["type"] == "map":
            ids.append(t["key-id"])
            ids.append(t["value-id"])
            walk(t["key"])
            walk(t["value"])

    walk(schema)
    assert len(ids) == len(set(ids))  # unique across the whole schema
    assert [f["id"] for f in schema["fields"]] == [1, 2, 3, 4]
    assert meta["last-column-id"] == max(ids) == _max_field_id(schema)

    # appends are schema-checked (nested spelled into the fingerprint)
    with pytest.raises(DeltaSchemaError):
        write_iceberg(
            src.withColumn("keys", F.array(F.lit("x"))), path,
            mode="append",
        )
    write_iceberg(src, path, mode="append")
    assert read_iceberg(spark, path).count() == 2 * src.count()

    # sibling primitive bounds still skip; nested predicates still work
    hit = read_iceberg(spark, path, where="o_orderkey = 1")
    assert hit.count() == 2 * src.where("o_orderkey = 1").count()
    assert (
        read_iceberg(spark, path).where("info.status = 'F'").count()
        == 2 * src.where("info.status = 'F'").count()
    )

    # partitioning by a nested column is refused
    with pytest.raises(NotImplementedError, match="nested"):
        write_iceberg(
            src, str(tmp_path / "p"), mode="append",
            partition_by=("info",),
        )


def test_merge_on_read_position_deletes(spark, sf_dir, tmp_path):
    """r11: the spec's MERGE-ON-READ position deletes — content=1
    DELETE manifests over parquet (file_path, pos) files. A MOR delete
    rewrites NO data file (O(matched rows) commit); readers apply the
    deletes via broadcast anti-join; appends keep working and keep the
    deletes applied; COW mutations are refused until
    materialize_deletes folds them in, after which the delete manifests
    are gone and the data files no longer hold the deleted rows."""
    from tscd_datalake_adapter_spark.sources.iceberg_lite import (
        _live_delete_files,
        _snapshot_by_id,
        _snapshot_files,
        delete_iceberg,
        materialize_deletes,
        merge_iceberg,
        update_iceberg,
    )

    path = str(tmp_path / "t")
    src = (
        _orders(spark, sf_dir)
        .select("o_orderkey", "o_totalprice")
        .where("o_orderkey < 2000")
        .repartitionByRange(4, "o_orderkey")
        .sortWithinPartitions("o_orderkey")
    )
    write_iceberg(src, path, mode="append")
    meta0 = load_metadata(path)
    files0 = {
        f["file_path"]
        for f in _snapshot_files(
            meta0, _snapshot_by_id(meta0, meta0["current-snapshot-id"])
        )
    }

    keys = sorted(
        r["o_orderkey"]
        for r in src.orderBy("o_orderkey").limit(3).collect()
    )
    res = delete_iceberg(
        spark, path, f"o_orderkey <= {keys[-1]}",
        strategy="merge-on-read",
    )
    assert res["deleted_rows"] == 3 and res["delete_files"] >= 1
    meta1 = load_metadata(path)
    # NO data file rewritten — the data file set is identical
    files1 = {
        f["file_path"]
        for f in _snapshot_files(
            meta1, _snapshot_by_id(meta1, meta1["current-snapshot-id"])
        )
    }
    assert files1 == files0
    assert len(_live_delete_files(meta1)) == 1
    snap1 = _snapshot_by_id(meta1, meta1["current-snapshot-id"])
    assert snap1["summary"]["mode"] == "merge-on-read-delete"
    # reads apply the deletes
    got = read_iceberg(spark, path)
    assert got.count() == src.count() - 3
    assert got.where(f"o_orderkey <= {keys[-1]}").count() == 0
    # time travel BEFORE the delete still sees the rows
    assert read_iceberg(
        spark, path, snapshot_id=meta0["current-snapshot-id"]
    ).count() == src.count()

    # a second MOR delete doesn't double-count already-deleted positions
    res2 = delete_iceberg(
        spark, path, f"o_orderkey <= {keys[-1] + 0}",
        strategy="merge-on-read",
    )
    assert res2["deleted_rows"] == 0

    # appends keep working; the deletes stay applied
    extra = src.limit(0)  # schema-matched empty + a real slice
    write_iceberg(
        src.where("o_orderkey < 2000").limit(5).unionByName(extra),
        path, mode="append",
    )
    got = read_iceberg(spark, path)
    assert got.count() == src.count() - 3 + 5

    # COW mutations are refused while deletes are pending
    with pytest.raises(ValueError, match="position-delete"):
        delete_iceberg(spark, path, "o_orderkey > 0")
    with pytest.raises(ValueError, match="position-delete"):
        update_iceberg(
            spark, path, "o_orderkey > 0", {"o_totalprice": "0.0"}
        )
    with pytest.raises(ValueError, match="position-delete"):
        merge_iceberg(
            spark, path,
            src.limit(1), "o_orderkey",
        )

    # materialize: deletes fold into rewritten files, ONE commit
    before = read_iceberg(spark, path)
    before_rows = sorted(map(tuple, before.collect()))
    m = materialize_deletes(spark, path)
    assert m["removed_positions"] == 3 and m["rewritten_files"] >= 1
    meta2 = load_metadata(path)
    assert _live_delete_files(meta2) == []
    after = read_iceberg(spark, path)
    assert sorted(map(tuple, after.collect())) == before_rows
    # and COW DML works again (the appended limit(5) slice may have
    # duplicated the key, so only the no-raise contract is pinned)
    res3 = delete_iceberg(spark, path, f"o_orderkey = {keys[-1] + 1}")
    assert res3["deleted_rows"] >= 0
    # idempotent materialize: no deletes -> no commit
    n_snaps = len(load_metadata(path)["snapshots"])
    m2 = materialize_deletes(spark, path)
    assert m2["removed_positions"] == 0
    assert len(load_metadata(path)["snapshots"]) == n_snaps

    # maintenance safety: orphan cleanup never deletes live delete files
    res = delete_iceberg(
        spark, path, "o_orderkey >= 0 AND o_orderkey <= 100000000",
        strategy="merge-on-read",
    )
    if res["deleted_rows"]:
        from tscd_datalake_adapter_spark.sources.iceberg_lite import (
            remove_orphan_files,
        )

        live = read_iceberg(spark, path).count()
        remove_orphan_files(path)
        assert read_iceberg(spark, path).count() == live


def test_rollback_iceberg_and_expiry_keeps_current(spark, sf_dir, tmp_path):
    """r11: rollback_to_snapshot moves the current pointer back as a
    metadata-only commit; reads serve the old snapshot, appends build on
    it, re-roll-forward works, and expire_snapshots always retains the
    CURRENT snapshot even when it is not the newest."""
    from tscd_datalake_adapter_spark.sources.iceberg_lite import (
        rollback_iceberg,
    )

    path = str(tmp_path / "t")
    src = _orders(spark, sf_dir)
    s1 = write_iceberg(src.where("o_orderkey < 300"), path, mode="append")
    s2 = write_iceberg(
        src.where("o_orderkey >= 300 AND o_orderkey < 700"),
        path, mode="append",
    )
    n1 = src.where("o_orderkey < 300").count()

    rollback_iceberg(path, s1)
    assert read_iceberg(spark, path).count() == n1
    meta = load_metadata(path)
    assert meta["current-snapshot-id"] == s1
    # abandoned snapshot retained: roll forward is possible
    assert {s["snapshot_id"] for s in snapshots(path)} == {s1, s2}
    rollback_iceberg(path, s2)
    assert read_iceberg(spark, path).count() == src.where(
        "o_orderkey < 700"
    ).count()

    # roll back again, then EXPIRE: the current (older) snapshot and its
    # files must survive — keep_last counts the NEWEST snapshots, and
    # the current pointer is additionally always retained (without the
    # guard, expiry would delete the live table out from under readers)
    rollback_iceberg(path, s1)
    expire_snapshots(path, keep_last=1)
    assert read_iceberg(spark, path).count() == n1
    ids = [s["snapshot_id"] for s in snapshots(path)]
    assert s1 in ids
    assert load_metadata(path)["current-snapshot-id"] == s1
    # a later append builds on the rolled-back current state
    write_iceberg(
        src.where("o_orderkey >= 700 AND o_orderkey < 800"),
        path, mode="append",
    )
    assert read_iceberg(spark, path).count() == n1 + src.where(
        "o_orderkey >= 700 AND o_orderkey < 800"
    ).count()

    # unknown snapshot refuses
    with pytest.raises(ValueError, match="not found"):
        rollback_iceberg(path, 12345)


def test_update_iceberg_multi_column_swap_semantics(
    spark, sf_dir, tmp_path
):
    """Review fix (r11), format twin: SET expressions and the predicate
    evaluate against the ORIGINAL row — column swap + predicate-feeding
    SET both behave per SQL UPDATE."""
    from pyspark.sql import Row, types as T

    from tscd_datalake_adapter_spark.sources.iceberg_lite import (
        update_iceberg,
    )

    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [Row(id=1, a=6, b=100), Row(id=2, a=20, b=200)],
        T.StructType([
            T.StructField("id", T.LongType(), False),
            T.StructField("a", T.LongType(), True),
            T.StructField("b", T.LongType(), True),
        ]),
    )
    write_iceberg(df, path, mode="append")
    res = update_iceberg(
        spark, path, "a < 10", {"a": "a * 2", "b": "b + 1"}
    )
    assert res["updated_rows"] == 1
    rows = {
        r["id"]: (r["a"], r["b"])
        for r in read_iceberg(spark, path).collect()
    }
    assert rows == {1: (12, 101), 2: (20, 200)}

    res = update_iceberg(spark, path, "id = 2", {"a": "b", "b": "a"})
    assert res["updated_rows"] == 1
    rows = {
        r["id"]: (r["a"], r["b"])
        for r in read_iceberg(spark, path).collect()
    }
    assert rows == {1: (12, 101), 2: (200, 20)}
