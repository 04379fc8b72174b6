"""delta_lite protocol tests: the transaction-log contracts a plain
parquet directory cannot express — log-defined visibility, time travel,
atomic commit conflicts, checkpoint honesty (SURVEY.md §2.2 lakehouse
row, implemented from the open Delta protocol spec without the jar)."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from tscd_datalake_adapter_spark.sources import load_table
from tscd_datalake_adapter_spark.sources.delta_lite import (
    ConcurrentWriteError,
    read_delta,
    table_history,
    write_delta,
)


def _orders(spark, sf_dir):
    return load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )


def test_roundtrip_matches_source(spark, sf_dir, tmp_path):
    path = str(tmp_path / "t")
    src = _orders(spark, sf_dir)
    v = write_delta(src, path)
    assert v == 0
    back = read_delta(spark, path)
    assert back.count() == src.count()
    a = sorted(map(tuple, back.collect()))
    b = sorted(map(tuple, src.collect()))
    assert a == b


def test_hash_distribution_one_file_per_partition(spark, sf_dir, tmp_path):
    """distribution_mode="hash" (r11): the partitioned write shuffles by
    the partition columns, so every hive directory holds exactly ONE
    data file (Iceberg's write.distribution-mode=hash — the small-files
    fix), and the rows read back identical to the default layout."""
    path = str(tmp_path / "t")
    src = _orders(spark, sf_dir).repartition(4)  # multi-task input
    write_delta(
        src,
        path,
        partition_by=("o_orderstatus",),
        distribution_mode="hash",
    )
    per_dir: dict[str, int] = {}
    for root, _dirs, files in os.walk(path):
        n = sum(f.endswith(".parquet") for f in files)
        if n:
            per_dir[os.path.basename(root)] = n
    assert per_dir and all(v == 1 for v in per_dir.values()), per_dir
    back = read_delta(spark, path)
    a = sorted(map(tuple, back.select(*src.columns).collect()))
    b = sorted(map(tuple, src.collect()))
    assert a == b
    with pytest.raises(ValueError):
        write_delta(
            src, path, partition_by=("o_orderstatus",),
            distribution_mode="range",
        )


def test_append_accumulates_and_history_records(spark, sf_dir, tmp_path):
    path = str(tmp_path / "t")
    src = _orders(spark, sf_dir)
    f = src.where(F.col("o_orderstatus") == "F")
    o = src.where(F.col("o_orderstatus") == "O")
    assert write_delta(f, path, mode="overwrite") == 0
    assert write_delta(o, path, mode="append") == 1
    back = read_delta(spark, path)
    assert back.count() == f.count() + o.count()
    hist = table_history(path)
    assert [h["version"] for h in hist] == [0, 1]
    assert hist[0]["n_removes"] == 0 and hist[1]["n_removes"] == 0
    assert hist[1]["n_adds"] >= 1


def test_overwrite_hides_old_files_and_time_travel_sees_them(
    spark, sf_dir, tmp_path
):
    path = str(tmp_path / "t")
    src = _orders(spark, sf_dir)
    f = src.where(F.col("o_orderstatus") == "F")
    o = src.where(F.col("o_orderstatus") == "O")
    write_delta(f, path, mode="overwrite")
    write_delta(o, path, mode="overwrite")
    # latest = only the overwrite's rows, though v0's files are on disk
    latest = read_delta(spark, path)
    assert latest.count() == o.count()
    assert latest.where(F.col("o_orderstatus") == "F").count() == 0
    # time travel replays to v0
    v0 = read_delta(spark, path, version=0)
    assert v0.count() == f.count()
    assert v0.where(F.col("o_orderstatus") == "O").count() == 0
    hist = table_history(path)
    assert hist[1]["n_removes"] >= 1  # the overwrite logically removed v0


def test_unlogged_file_is_invisible(spark, sf_dir, tmp_path):
    """The core log contract: a parquet file ON DISK but absent from the
    log is not part of the table (directory listing would happily read
    it)."""
    path = str(tmp_path / "t")
    src = _orders(spark, sf_dir).limit(100)
    write_delta(src, path)
    n = read_delta(spark, path).count()
    stray_dir = os.path.join(path, "part-99999999999999999999")
    src.limit(7).write.parquet(stray_dir)
    assert read_delta(spark, path).count() == n


def test_version_conflict_raises(spark, sf_dir, tmp_path):
    """The atomic-commit race: two writers that both resolved 'next
    version = 1' — the second link(2) must fail as a conflict, never
    silently clobber the first commit's content."""
    from tscd_datalake_adapter_spark.sources.delta_lite import _commit

    path = str(tmp_path / "t")
    src = _orders(spark, sf_dir).limit(10)
    write_delta(src, path)
    _commit(path, 1, [{"commitInfo": {"operation": "WRITE"}}])
    with pytest.raises(FileExistsError):
        _commit(path, 1, [{"commitInfo": {"operation": "RIVAL"}}])
    # the first commit's content survived intact
    log1 = os.path.join(path, "_delta_log", f"{1:020d}.json")
    assert "RIVAL" not in open(log1, encoding="utf-8").read()


def test_overwrite_race_raises_append_race_retries(spark, sf_dir, tmp_path):
    """Protocol conflict resolution (r8 verdict item 6): a lost APPEND
    race re-reads the log and commits at the next version (disjoint file
    sets never conflict — both writers' rows land); a lost OVERWRITE race
    raises (its remove-set was computed against a dead state)."""
    from tscd_datalake_adapter_spark.sources import delta_lite

    path = str(tmp_path / "t")
    src = _orders(spark, sf_dir)
    write_delta(src.limit(10), path)

    # simulate the race: a rival zero-add append lands at every version
    # this writer is about to claim, until the writer has lost twice
    real_commit = delta_lite._commit
    races = {"left": 2}

    def racing_commit(p, version, actions):
        if races["left"] > 0:
            races["left"] -= 1
            real_commit(
                p,
                version,
                [
                    {
                        "commitInfo": {
                            "timestamp": 1,
                            "operation": "RIVAL_APPEND",
                            "operationParameters": {"mode": "APPEND"},
                        }
                    }
                ],
            )
        return real_commit(p, version, actions)

    delta_lite._commit = racing_commit
    try:
        v = write_delta(src.limit(5), path, mode="append")
    finally:
        delta_lite._commit = real_commit
    assert v == 3  # lost versions 1 and 2 to the rival, landed at 3
    assert read_delta(spark, path).count() == 15  # nothing lost
    ops = [h["operation"] for h in table_history(path)]
    assert ops == ["WRITE", "RIVAL_APPEND", "RIVAL_APPEND", "WRITE"]

    # an overwrite losing the same race must raise, not retry
    races["left"] = 1
    delta_lite._commit = racing_commit
    try:
        with pytest.raises(ConcurrentWriteError):
            write_delta(src.limit(3), path, mode="overwrite")
    finally:
        delta_lite._commit = real_commit
    # the failed overwrite left no visible rows (its files are unlogged)
    assert read_delta(spark, path).count() == 15


def test_commit_during_data_write_not_absorbed(spark, sf_dir, tmp_path):
    """ADVICE r9 (high): a commit that lands DURING write_delta's
    distributed data write — i.e. after the pre-write state replay but
    before the log commit — must surface as a conflict, never be
    silently absorbed by claiming a version from a fresh directory
    listing. An overwrite whose remove-set predates the interloper
    raises ConcurrentWriteError (else the interloper's files would
    survive a full overwrite); an append retries and both land."""
    from tscd_datalake_adapter_spark.sources import delta_lite

    path = str(tmp_path / "t")
    src = _orders(spark, sf_dir)
    write_delta(src.limit(10), path)

    real_wdf = delta_lite._write_data_files
    pending = {"rival_rows": 5}

    def racing_wdf(
        df, p, pby, commit_uuid, writer_options=None, distribution_mode=None
    ):
        # rival append lands mid-write, exactly once per arm
        n = pending.pop("rival_rows", 0)
        if n:
            delta_lite._write_data_files = real_wdf
            try:
                write_delta(src.limit(n), path, mode="append")
            finally:
                delta_lite._write_data_files = racing_wdf
        return real_wdf(
            df, p, pby, commit_uuid, writer_options, distribution_mode
        )

    delta_lite._write_data_files = racing_wdf
    try:
        with pytest.raises(ConcurrentWriteError):
            write_delta(src.limit(3), path, mode="overwrite")
    finally:
        delta_lite._write_data_files = real_wdf
    # the interloper's rows are intact; the stale overwrite left nothing
    assert read_delta(spark, path).count() == 15

    # the same race on an APPEND is non-conflicting: retry, both land
    pending["rival_rows"] = 4
    delta_lite._write_data_files = racing_wdf
    try:
        v = write_delta(src.limit(3), path, mode="append")
    finally:
        delta_lite._write_data_files = real_wdf
    # v0 base, v1 rival#1, v2 rival#2, v3 this append (after one retry)
    assert v == 3
    assert read_delta(spark, path).count() == 22


def test_schema_on_write_enforced_append_evolved_overwrite(
    spark, sf_dir, tmp_path
):
    """ADVICE r8: schema is validated on EVERY write — a drifted append
    raises; a full overwrite evolves the schema via a fresh metaData
    action, and the post-overwrite EMPTY read returns the NEW schema."""
    from tscd_datalake_adapter_spark.sources.delta_lite import (
        DeltaSchemaError,
    )

    path = str(tmp_path / "t")
    src = _orders(spark, sf_dir).limit(10)
    write_delta(src, path)

    drifted = src.withColumn("o_totalprice", F.col("o_totalprice").cast("string"))
    with pytest.raises(DeltaSchemaError):
        write_delta(drifted, path, mode="append")
    renamed = src.withColumnRenamed("o_totalprice", "price")
    with pytest.raises(DeltaSchemaError):
        write_delta(renamed, path, mode="append")

    # overwrite evolves: new schema is logged and read back
    write_delta(renamed, path, mode="overwrite")
    assert "price" in read_delta(spark, path).columns
    # the evolved EMPTY state reads with the evolved schema, not v0's
    write_delta(renamed.limit(0), path, mode="overwrite")
    empty = read_delta(spark, path)
    assert empty.count() == 0 and "price" in empty.columns
    # time travel to version 0 still reads with version 0's schema
    assert "o_totalprice" in read_delta(spark, path, version=0).columns


def test_partition_string_values_survive_type_inference(
    spark, sf_dir, tmp_path
):
    """ADVICE r8 (medium): a STRING partition column with numeric-looking
    zero-padded values ('01') must read back as the string '01' — the
    logged schema is supplied to the reader, so hive partition
    type-inference can never corrupt it to the int 1."""
    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [("01", 1), ("02", 2), ("10", 3)], "bucket string, v int"
    )
    write_delta(df, path, partition_by=("bucket",))
    back = read_delta(spark, path)
    assert [f.dataType.simpleString() for f in back.schema.fields if f.name == "bucket"] == ["string"]
    assert sorted(r.bucket for r in back.collect()) == ["01", "02", "10"]


def test_partition_values_hive_unescaped_in_log(spark, sf_dir, tmp_path):
    """The spec's partitionValues store LOGICAL values: a value Hive
    escapes in the path (':' → '%3A') must appear decoded in the add
    action, and read back intact."""
    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [("a:b", 1), ("c d", 2)], "k string, v int"
    )
    write_delta(df, path, partition_by=("k",))
    log0 = os.path.join(path, "_delta_log", f"{0:020d}.json")
    pvals = set()
    for ln in open(log0, encoding="utf-8"):
        a = json.loads(ln)
        if "add" in a:
            pvals.add(a["add"]["partitionValues"]["k"])
    assert pvals == {"a:b", "c d"}  # decoded, not 'a%3Ab'
    assert sorted(r.k for r in read_delta(spark, path).collect()) == [
        "a:b",
        "c d",
    ]


def test_crashed_writer_leftovers_never_committed(spark, sf_dir, tmp_path):
    """ADVICE r8 (low): files under hidden directories (a crashed Spark
    write's _temporary, an abandoned _staging_*) are invisible to later
    commits and to reads, and vacuum clears abandoned staging dirs."""
    from tscd_datalake_adapter_spark.sources.delta_lite import vacuum_delta

    path = str(tmp_path / "t")
    src = _orders(spark, sf_dir).limit(10)
    write_delta(src, path)
    # simulate a crashed writer: parquet bytes under hidden dirs
    for hidden in ("_temporary/0/task_1", "_staging_deadbeef"):
        d = os.path.join(path, hidden)
        os.makedirs(d)
        src.limit(3).coalesce(1).write.mode("overwrite").parquet(
            os.path.join(d, "x")
        )
    v = write_delta(src.limit(5), path, mode="append")
    # the new commit added only its own 5 rows' files — no stray adds
    hist = table_history(path)
    assert hist[v]["n_adds"] >= 1
    assert read_delta(spark, path).count() == 15
    vacuum_delta(path)
    assert not os.path.exists(os.path.join(path, "_staging_deadbeef"))
    assert read_delta(spark, path).count() == 15


def test_replace_partitions_scoped_overwrite(spark, sf_dir, tmp_path):
    """replaceWhere on partitions: only the named partitions' files are
    removed; naming a partition with no new rows DROPS it (the primitive
    the lake adapter's merge needs for fully-superseded partitions)."""
    path = str(tmp_path / "t")
    src = _orders(spark, sf_dir).where(
        F.col("o_orderstatus").isin("F", "O", "P")
    )
    write_delta(src, path, partition_by=("o_orderstatus",))
    n_f = src.where("o_orderstatus = 'F'").count()
    n_o = src.where("o_orderstatus = 'O'").count()

    # replace P with a 1-row slice, drop nothing else
    one_p = src.where("o_orderstatus = 'P'").limit(1)
    write_delta(
        one_p,
        path,
        mode="overwrite",
        replace_partitions=[{"o_orderstatus": "P"}],
    )
    back = read_delta(spark, path)
    assert back.where("o_orderstatus = 'P'").count() == 1
    assert back.where("o_orderstatus = 'F'").count() == n_f
    assert back.where("o_orderstatus = 'O'").count() == n_o

    # name P with ZERO new rows → the partition is dropped outright
    write_delta(
        src.where("o_orderstatus = 'NOPE'"),
        path,
        mode="overwrite",
        replace_partitions=[{"o_orderstatus": "P"}],
    )
    back2 = read_delta(spark, path)
    assert back2.where("o_orderstatus = 'P'").count() == 0
    assert back2.where("o_orderstatus = 'F'").count() == n_f


def test_checkpoint_carries_tombstones(spark, sf_dir, tmp_path):
    """Spec fidelity (ADVICE r8 low): the classic checkpoint must carry
    the unexpired remove tombstones, not just the active adds."""
    import pyarrow.parquet as pq

    from tscd_datalake_adapter_spark.sources.delta_lite import (
        checkpoint_delta,
    )

    path = str(tmp_path / "t")
    src = _orders(spark, sf_dir)
    write_delta(src.limit(10), path)
    write_delta(src.limit(4), path, mode="overwrite")  # v0 files tombstoned
    v = checkpoint_delta(path)
    cp = pq.read_table(
        os.path.join(path, "_delta_log", f"{v:020d}.checkpoint.parquet")
    ).to_pylist()
    removes = [r["remove"]["path"] for r in cp if r.get("remove")]
    adds = [r["add"]["path"] for r in cp if r.get("add")]
    assert removes and set(removes).isdisjoint(adds)
    # a reader resuming from the checkpoint sees only the live rows
    assert read_delta(spark, path).count() == 4


def test_version_as_of_timestamp_travel(spark, sf_dir, tmp_path):
    """Timestamp-based travel per the spec: latest version with
    inCommitTimestamp <= cutoff; None before the first commit; the
    monotonic clamp orders equal/backdated stamps."""
    from tscd_datalake_adapter_spark.sources.delta_lite import version_as_of

    path = str(tmp_path / "t")
    src = _orders(spark, sf_dir)
    write_delta(src.limit(10), path, commit_timestamp_ms=1_000)
    write_delta(
        src.limit(5), path, mode="append", commit_timestamp_ms=2_000
    )
    # backdated third commit: clamped to 2_001, never reordered
    write_delta(
        src.limit(2), path, mode="append", commit_timestamp_ms=1_500
    )
    assert version_as_of(path, 999) is None
    assert version_as_of(path, 1_000) == 0
    assert version_as_of(path, 1_999) == 0
    assert version_as_of(path, 2_000) == 1
    assert version_as_of(path, 2_001) == 2
    assert version_as_of(path, 10**15) == 2
    assert read_delta(spark, path, version=1).count() == 15


def test_add_actions_carry_footer_stats(spark, sf_dir, tmp_path):
    """Every add action records the spec's stats JSON (numRecords +
    min/maxValues from the parquet footer) — the metadata MERGE pruning
    and future data skipping key on."""
    path = str(tmp_path / "t")
    src = _orders(spark, sf_dir).where("o_orderkey < 100")
    n = src.count()
    write_delta(src.coalesce(1), path)
    log0 = os.path.join(path, "_delta_log", f"{0:020d}.json")
    adds = [
        json.loads(ln)["add"]
        for ln in open(log0, encoding="utf-8")
        if "add" in json.loads(ln)
    ]
    assert len(adds) == 1
    stats = json.loads(adds[0]["stats"])
    assert stats["numRecords"] == n
    assert stats["minValues"]["o_orderkey"] == 0
    assert stats["maxValues"]["o_orderkey"] == 99
    assert "o_orderstatus" in stats["minValues"]


def test_footer_stats_drop_column_on_unusable_later_row_group(monkeypatch):
    """ADVICE r9 (low): a later row group whose min/max is unusable (NaN
    floats from older parquet-mr writers) must invalidate the column's
    accumulated bounds entirely — keeping rg0-only bounds could wrongly
    PRUNE a file whose later row groups hold matching rows. Pinned with
    a stubbed footer because pyarrow itself never writes NaN stats."""
    import pyarrow.parquet as pq

    from tscd_datalake_adapter_spark.sources import iceberg_lite
    from tscd_datalake_adapter_spark.sources.delta_lite import (
        _file_stats_json,
    )

    class _Stats:
        def __init__(self, lo, hi):
            self.has_min_max = True
            self.min, self.max = lo, hi
            self.has_null_count = True
            self.null_count = 0

    class _Col:
        def __init__(self, stats):
            self.path_in_schema = "x"
            self.statistics = stats

    class _RG:
        def __init__(self, stats):
            self._c = _Col(stats)

        def column(self, ci):
            return self._c

    class _MD:
        num_row_groups = 2
        num_columns = 1
        num_rows = 10

        def row_group(self, rg):
            # rg0 has clean bounds; rg1's max is NaN
            if rg == 0:
                return _RG(_Stats(1.0, 2.0))
            return _RG(_Stats(3.0, float("nan")))

    class _PF:
        def __init__(self, *a, **k):
            self.metadata = _MD()

    monkeypatch.setattr(pq, "ParquetFile", _PF)
    stats = json.loads(_file_stats_json("ignored.parquet"))
    # column x's min/max dropped (not rg0-only); nullCount (usable in
    # both row groups) is independent and survives
    assert stats == {"numRecords": 10, "nullCount": {"x": 0}}

    lower, upper, nvc = iceberg_lite._file_bounds(
        "ignored.parquet",
        {"fields": [{"name": "x", "id": 1, "type": "double"}]},
    )
    assert lower == [] and upper == []
    # null counts accumulate independently of the dropped min/max
    assert nvc == [{"key": 1, "value": 0}]


def test_merge_rewrites_only_key_intersecting_files(spark, sf_dir, tmp_path):
    """Stats-pruned MERGE (r9): three appends with disjoint key ranges;
    an update set touching only the middle range must remove exactly the
    middle file — the other files' add actions survive untouched."""
    from tscd_datalake_adapter_spark.sources.delta_lite import (
        _replay,
        merge_delta,
    )

    path = str(tmp_path / "t")
    src = _orders(spark, sf_dir).select("o_orderkey", "o_totalprice")
    write_delta(
        src.where("o_orderkey < 1000").coalesce(1), path, mode="append"
    )
    write_delta(
        src.where("o_orderkey >= 1000 AND o_orderkey < 2000").coalesce(1),
        path,
        mode="append",
    )
    write_delta(
        src.where("o_orderkey >= 2000 AND o_orderkey < 3000").coalesce(1),
        path,
        mode="append",
    )
    before = set(_replay(path, None)["files"])
    assert len(before) == 3
    updates = src.where(
        "o_orderkey >= 1200 AND o_orderkey < 1300"
    ).withColumn("o_totalprice", F.lit(1.0))
    n_total = read_delta(spark, path).count()
    v = merge_delta(spark, path, updates, key="o_orderkey")
    hist = table_history(path)[v]
    assert hist["operation"] == "MERGE"
    assert hist["n_removes"] == 1  # only the middle file rewritten
    after = set(_replay(path, None)["files"])
    assert len(before & after) == 2  # the two pruned files survived
    back = read_delta(spark, path)
    assert back.count() == n_total  # pure update set: no inserts
    assert (
        back.where("o_orderkey >= 1200 AND o_orderkey < 1300")
        .agg(F.max("o_totalprice"))
        .first()[0]
        == 1.0
    )
    assert (
        back.where("o_orderkey < 1000")
        .agg(F.min("o_totalprice"))
        .first()[0]
        > 1.0
    )


def test_read_delta_partition_filter_prunes_at_log_level(
    spark, sf_dir, tmp_path
):
    """partition_filter prunes the FILE LIST before Spark ever sees it:
    the returned frame's inputFiles are only the matching partition's."""
    path = str(tmp_path / "t")
    src = _orders(spark, sf_dir).where(
        F.col("o_orderstatus").isin("F", "O")
    )
    write_delta(src, path, partition_by=("o_orderstatus",))
    only_f = read_delta(
        spark, path, partition_filter={"o_orderstatus": "F"}
    )
    assert all("o_orderstatus=F" in f for f in only_f.inputFiles())
    assert only_f.count() == src.where("o_orderstatus = 'F'").count()
    assert (
        read_delta(
            spark, path, partition_filter={"o_orderstatus": "NOPE"}
        ).count()
        == 0
    )


def test_where_predicate_skips_files_by_stats(spark, sf_dir, tmp_path):
    """Data skipping (r9): a simple conjunctive `where` prunes files whose
    logged stats prove no match — inputFiles shrink, results are EXACTLY
    the full-scan filter (the predicate is always re-applied)."""
    path = str(tmp_path / "t")
    src = _orders(spark, sf_dir).select("o_orderkey", "o_totalprice")
    for lo, hi in ((0, 500), (500, 1000), (1000, 1500)):
        write_delta(
            src.where(f"o_orderkey >= {lo} AND o_orderkey < {hi}")
            .coalesce(1),
            path,
            mode="append",
        )
    skipped = read_delta(spark, path, where="o_orderkey >= 1200")
    assert len(skipped.inputFiles()) == 1  # only the [1000,1500) file
    expected = sorted(
        tuple(r)
        for r in read_delta(spark, path)
        .where("o_orderkey >= 1200")
        .collect()
    )
    assert sorted(tuple(r) for r in skipped.collect()) == expected
    # equality point lookup prunes to one file
    one = read_delta(spark, path, where="o_orderkey = 750")
    assert len(one.inputFiles()) == 1
    assert one.count() == 1
    # an unparsable predicate (OR) disables pruning but still filters
    both = read_delta(
        spark, path, where="o_orderkey = 10 OR o_orderkey = 1400"
    )
    assert len(both.inputFiles()) == 3
    assert both.count() == 2


def test_null_predicate_skipping_from_nullcount(spark, sf_dir, tmp_path):
    """r9 verdict item 4: adds carry the spec's nullCount stat; ``IS
    NULL`` prunes zero-null files, ``IS NOT NULL`` prunes ALL-null files
    (which have no min/max at all — nullCount is the only stat that can
    skip them), results always equal the full-scan filter, and the stat
    survives a checkpoint."""
    from pyspark.sql import types as T

    from tscd_datalake_adapter_spark.sources.delta_lite import (
        _replay,
        checkpoint_delta,
    )

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
        write_delta(df.coalesce(1), path, mode="append")

    # stats JSON carries nullCount for every file
    st = [
        json.loads(a["stats"])
        for a in _replay(path, None)["files"].values()
    ]
    assert sorted(s["nullCount"]["v"] for s in st) == [0, 1, 2]

    isnull = read_delta(spark, path, where="v IS NULL")
    assert len(isnull.inputFiles()) == 2  # zero-null file pruned
    assert sorted(r.k for r in isnull.collect()) == [3, 4, 6]
    notnull = read_delta(spark, path, where="v IS NOT NULL")
    assert len(notnull.inputFiles()) == 2  # all-null file pruned
    assert sorted(r.k for r in notnull.collect()) == [1, 2, 5]
    # combined with a comparison conjunct both prunes compose
    both = read_delta(spark, path, where="v IS NOT NULL AND k >= 5")
    assert len(both.inputFiles()) == 1
    assert sorted(r.k for r in both.collect()) == [5]

    # nullCount survives checkpointing: cleanup=True deletes the JSON
    # commits, so the pruned read below can ONLY have gotten its stats
    # back out of the checkpoint parquet
    checkpoint_delta(path, cleanup=True)
    isnull2 = read_delta(spark, path, where="v IS NULL")
    assert len(isnull2.inputFiles()) == 2
    assert sorted(r.k for r in isnull2.collect()) == [3, 4, 6]


def test_read_delta_changes_incremental(spark, sf_dir, tmp_path):
    """Incremental (change-feed) read: exactly the rows ADDED in the
    version range, stamped with _commit_version/_commit_timestamp; a
    data-removing commit in range raises unless ignore_deletes."""
    from tscd_datalake_adapter_spark.sources.delta_lite import (
        ConcurrentWriteError,  # noqa: F401 (import parity with module)
        read_delta_changes,
    )

    path = str(tmp_path / "t")
    src = _orders(spark, sf_dir).select("o_orderkey", "o_totalprice")
    slices = [(0, 300), (300, 700), (700, 1200)]
    for i, (lo, hi) in enumerate(slices):
        write_delta(
            src.where(f"o_orderkey >= {lo} AND o_orderkey < {hi}"),
            path,
            mode="append",
            commit_timestamp_ms=1000 + i,
        )
    inc = read_delta_changes(spark, path, 1, 2)
    expect = src.where("o_orderkey >= 300 AND o_orderkey < 1200")
    assert inc.count() == expect.count()
    assert set(inc.columns) == {
        "o_orderkey", "o_totalprice", "_commit_version",
        "_commit_timestamp",
    }
    byv = {
        r["_commit_version"]: r["n"]
        for r in inc.groupBy("_commit_version").count()
        .withColumnRenamed("count", "n").collect()
    }
    assert byv == {
        1: src.where("o_orderkey >= 300 AND o_orderkey < 700").count(),
        2: src.where("o_orderkey >= 700 AND o_orderkey < 1200").count(),
    }
    ts = {r["_commit_timestamp"] for r in inc.select("_commit_timestamp").distinct().collect()}
    assert ts == {1001, 1002}
    # out-of-range start is a loud error, not an empty frame
    with pytest.raises(ValueError, match="not in log"):
        read_delta_changes(spark, path, 5)

    # an overwrite in range is not representable append-only
    write_delta(src.limit(5), path, mode="overwrite")
    with pytest.raises(ValueError, match="removes data"):
        read_delta_changes(spark, path, 1)
    # ignore_deletes surfaces the rewrite's adds as inserts
    inc2 = read_delta_changes(spark, path, 3, ignore_deletes=True)
    assert inc2.count() == 5
    assert {r["_commit_version"] for r in inc2.collect()} == {3}


def test_optimize_zorder_two_dim_skipping(spark, sf_dir, tmp_path):
    """OPTIMIZE ZORDER (r10): one atomic rewrite; content byte-identical;
    afterwards where= stats skipping prunes files on BOTH curve columns
    (the scattered pre-optimize layout prunes neither); history carries
    the OPTIMIZE ZORDER commit; partitioned tables refuse."""
    from tscd_datalake_adapter_spark.sources.delta_lite import (
        optimize_zorder,
        table_history,
    )

    path = str(tmp_path / "t")
    src = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    # scattered layout: hash-partitioned writes, no useful clustering
    write_delta(src.repartition(8, "o_orderkey"), path)
    kmax = src.agg({"o_custkey": "max"}).collect()[0][0]
    pmax = src.agg({"o_totalprice": "max"}).collect()[0][0]
    k_pred = f"o_custkey >= {int(kmax * 0.3)} AND o_custkey <= {int(kmax * 0.33)}"
    p_pred = f"o_totalprice >= {pmax * 0.3} AND o_totalprice <= {pmax * 0.33}"
    before_k = len(read_delta(spark, path, where=k_pred).inputFiles())

    v = optimize_zorder(spark, path, "o_custkey", "o_totalprice",
                        n_files=16)
    assert table_history(path)[v]["operation"] == "OPTIMIZE ZORDER"
    # byte-identical content
    assert (
        sorted(tuple(r) for r in read_delta(spark, path).collect())
        == sorted(tuple(r) for r in src.collect())
    )
    after = read_delta(spark, path)
    n_files = len(after.inputFiles())
    k_files = len(read_delta(spark, path, where=k_pred).inputFiles())
    p_files = len(read_delta(spark, path, where=p_pred).inputFiles())
    assert k_files <= n_files // 2, (k_files, n_files)
    assert p_files <= n_files // 2, (p_files, n_files)
    assert before_k == 8  # the scattered layout pruned nothing
    # results are exactly the full-scan filter either way
    assert (
        read_delta(spark, path, where=k_pred).count()
        == src.where(k_pred).count()
    )

    # z-ordering BY a partition column is a layout no-op → refused
    p2 = str(tmp_path / "p")
    write_delta(
        src.withColumn("status", F.lit("x")),
        p2,
        partition_by=("status",),
    )
    with pytest.raises(ValueError, match="partition columns"):
        optimize_zorder(spark, p2, "status", "o_totalprice")


def test_optimize_zorder_within_partitions(spark, sf_dir, tmp_path):
    """r11 (r10 verdict item 2): OPTIMIZE ZORDER on a PARTITIONED table
    z-orders WITHIN each hive partition as ONE atomic commit — the
    connector's semantics. Content byte-identical, partition layout
    preserved, and the 2-D stats skipping is file-effective inside each
    partition (pinned per partition, not just globally)."""
    import os as _os

    from tscd_datalake_adapter_spark.sources.delta_lite import (
        _replay,
        optimize_zorder,
        table_history,
    )

    path = str(tmp_path / "t")
    src = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    # scattered within-partition layout: hash splits, no clustering
    write_delta(
        src.repartition(12, "o_orderkey"),
        path,
        partition_by=("o_orderstatus",),
    )
    kmax = src.agg({"o_custkey": "max"}).collect()[0][0]
    k_pred = (
        f"o_custkey >= {int(kmax * 0.3)} AND o_custkey <= "
        f"{int(kmax * 0.33)}"
    )

    # 48 slices over 3 near-equal partitions → ~16 files each, the same
    # file-per-cell granularity the unpartitioned pin uses
    v = optimize_zorder(
        spark, path, "o_custkey", "o_totalprice", n_files=48
    )
    assert table_history(path)[v]["operation"] == "OPTIMIZE ZORDER"
    # exactly ONE commit did the whole table (atomicity: old versions
    # intact, new layout complete)
    assert table_history(path)[-1]["version"] == v == 1
    # content byte-identical across the rewrite
    assert sorted(
        tuple(r)
        for r in read_delta(spark, path).select(*src.columns).collect()
    ) == sorted(tuple(r) for r in src.collect())
    # partition layout preserved: every file still under its status dir
    state = _replay(path, None)
    assert state["metadata"]["partitionColumns"] == ["o_orderstatus"]
    by_status: dict[str, list[str]] = {}
    for rel in state["files"]:
        seg = [s for s in rel.split(_os.sep) if s.startswith("o_orderstatus=")]
        assert seg, rel
        by_status.setdefault(seg[0].split("=", 1)[1], []).append(rel)
    assert set(by_status) == {"F", "O", "P"}
    # per-partition 2-D skipping: inside EACH partition the custkey
    # slice touches at most half that partition's files
    for status, rels in by_status.items():
        n_part = len(
            read_delta(
                spark, path, partition_filter={"o_orderstatus": status}
            ).inputFiles()
        )
        n_hit = len(
            read_delta(
                spark,
                path,
                partition_filter={"o_orderstatus": status},
                where=k_pred,
            ).inputFiles()
        )
        if n_part >= 8:  # too few files → nothing to pin
            assert n_hit <= n_part // 2, (status, n_hit, n_part)
    # results equal the full-scan filter
    assert (
        read_delta(spark, path, where=k_pred).count()
        == src.where(k_pred).count()
    )


def test_purge_removed_deletes_latest_commits_dead_files(
    spark, sf_dir, tmp_path
):
    """purge_removed: the targeted post-compaction cleanup — exactly the
    files the LATEST commit removed are unlinked; older versions refuse."""
    from tscd_datalake_adapter_spark.sources.delta_lite import (
        _rel_data_files,
        purge_removed,
    )

    path = str(tmp_path / "t")
    src = _orders(spark, sf_dir)
    write_delta(src.limit(10), path)
    v = write_delta(src.limit(4), path, mode="overwrite")
    before = set(_rel_data_files(path))
    purged = purge_removed(path, v)
    assert purged and set(purged) <= before
    assert read_delta(spark, path).count() == 4
    with pytest.raises(ValueError):
        purge_removed(path, v - 1)


def test_checkpointed_table_is_refused(spark, sf_dir, tmp_path):
    path = str(tmp_path / "t")
    write_delta(_orders(spark, sf_dir).limit(10), path)
    with open(
        os.path.join(path, "_delta_log", "_last_checkpoint"),
        "w",
        encoding="utf-8",
    ) as f:
        f.write('{"version": 0}\n')
    with pytest.raises(NotImplementedError):
        read_delta(spark, path)


def test_higher_reader_version_is_refused(spark, sf_dir, tmp_path):
    path = str(tmp_path / "t")
    write_delta(_orders(spark, sf_dir).limit(10), path)
    log0 = os.path.join(path, "_delta_log", f"{0:020d}.json")
    lines = open(log0, encoding="utf-8").read().splitlines()
    out = []
    for ln in lines:
        a = json.loads(ln)
        if "protocol" in a:
            a["protocol"]["minReaderVersion"] = 3
        out.append(json.dumps(a))
    with open(log0, "w", encoding="utf-8") as f:
        f.write("\n".join(out) + "\n")
    with pytest.raises(NotImplementedError):
        read_delta(spark, path)


def test_partitioned_write_prunes_on_read(spark, sf_dir, tmp_path):
    """The hive layout + log partitionValues must give directory-level
    pruning: a single-partition filter's scan reads strictly fewer files
    than the table holds."""
    path = str(tmp_path / "t")
    src = _orders(spark, sf_dir)
    write_delta(src, path, partition_by=("o_orderstatus",))
    back = read_delta(spark, path)
    one = back.where(F.col("o_orderstatus") == "F")
    # correctness
    assert one.count() == src.where(F.col("o_orderstatus") == "F").count()
    # pruning: the filtered plan lists only the F partition's files
    plan = one._jdf.queryExecution().executedPlan().toString()
    assert "o_orderstatus" in plan
    import re

    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and m.group(1).strip(), f"no partition filters in: {plan[:800]}"


def test_partition_values_mismatch_detected(spark, sf_dir, tmp_path):
    path = str(tmp_path / "t")
    write_delta(
        _orders(spark, sf_dir),
        path,
        partition_by=("o_orderstatus",),
    )
    log0 = os.path.join(path, "_delta_log", f"{0:020d}.json")
    lines = open(log0, encoding="utf-8").read().splitlines()
    out = []
    corrupted = False
    for ln in lines:
        a = json.loads(ln)
        if "add" in a and not corrupted:
            a["add"]["partitionValues"] = {"o_orderstatus": "WRONG"}
            corrupted = True
        out.append(json.dumps(a))
    with open(log0, "w", encoding="utf-8") as f:
        f.write("\n".join(out) + "\n")
    with pytest.raises(ValueError, match="partition mismatch"):
        read_delta(spark, path)


def test_empty_overwrite_reads_back_empty_with_schema(
    spark, sf_dir, tmp_path
):
    path = str(tmp_path / "t")
    src = _orders(spark, sf_dir)
    write_delta(src.limit(5), path)
    write_delta(src.where(F.lit(False)), path, mode="overwrite")
    back = read_delta(spark, path)
    assert back.count() == 0
    assert set(back.columns) == set(src.columns)


def test_merge_upsert_replaces_and_inserts(spark, sf_dir, tmp_path):
    from tscd_datalake_adapter_spark.sources.delta_lite import merge_delta

    path = str(tmp_path / "t")
    src = _orders(spark, sf_dir).select("o_orderkey", "o_totalprice")
    base = src.limit(200)
    write_delta(base, path)
    n_base = base.count()
    updates = base.limit(50).select(
        "o_orderkey", (F.col("o_totalprice") * 0 + 1.0).alias("o_totalprice")
    )
    v = merge_delta(spark, path, updates, key="o_orderkey")
    back = read_delta(spark, path)
    # same row count (pure update), updated rows carry the new value
    assert back.count() == n_base
    assert back.where(F.col("o_totalprice") == 1.0).count() == 50
    hist = table_history(path)
    assert hist[v]["operation"] == "MERGE"
    # base version still readable (copy-on-write)
    assert read_delta(spark, path, version=0).where(
        F.col("o_totalprice") == 1.0
    ).count() == 0


def test_merge_pruning_keeps_statless_files_and_empty_updates(
    spark, sf_dir, tmp_path
):
    """merge_delta's stats pruning skips a file only when its key range
    misses the update range: a file without stats is rewritten, and an
    empty update set (no range) rewrites every file, rows unchanged."""
    from tscd_datalake_adapter_spark.sources.delta_lite import (
        _replay,
        merge_delta,
    )

    path = str(tmp_path / "t")
    src = (
        _orders(spark, sf_dir)
        .select("o_orderkey", "o_totalprice")
        .where("o_orderkey < 2000")
        .repartitionByRange(4, "o_orderkey")
        .sortWithinPartitions("o_orderkey")
    )
    write_delta(src, path)
    log0 = os.path.join(path, "_delta_log", f"{0:020d}.json")
    with open(log0, encoding="utf-8") as fh:
        actions = [json.loads(ln) for ln in fh if ln.strip()]
    adds = [a["add"] for a in actions if "add" in a]
    assert len(adds) == 4
    def lo(add):
        return json.loads(add["stats"])["minValues"]["o_orderkey"]

    top = max(adds, key=lo)
    del top["stats"]
    with open(log0, "w", encoding="utf-8") as fh:
        fh.write("".join(json.dumps(a) + "\n" for a in actions))

    def removed(v):
        log = os.path.join(path, "_delta_log", f"{v:020d}.json")
        with open(log, encoding="utf-8") as fh:
            return {
                json.loads(ln)["remove"]["path"]
                for ln in fh
                if '"remove"' in ln
            }

    lowest = min((a for a in adds if "stats" in a), key=lo)
    key = lo(lowest)
    low = src.where(F.col("o_orderkey") == key).withColumn(
        "o_totalprice", F.col("o_totalprice") * 0
    )
    v = merge_delta(spark, path, low, key="o_orderkey")
    assert removed(v) == {lowest["path"], top["path"]}

    before = sorted(map(tuple, read_delta(spark, path).collect()))
    live = set(_replay(path, None)["files"])
    v = merge_delta(spark, path, src.limit(0), key="o_orderkey")
    assert removed(v) == live
    assert sorted(map(tuple, read_delta(spark, path).collect())) == before


def test_vacuum_deletes_unreferenced_files_and_breaks_old_travel(
    spark, sf_dir, tmp_path
):
    from tscd_datalake_adapter_spark.sources.delta_lite import vacuum_delta

    path = str(tmp_path / "t")
    src = _orders(spark, sf_dir)
    f = src.where(F.col("o_orderstatus") == "F")
    o = src.where(F.col("o_orderstatus") == "O")
    write_delta(f, path, mode="overwrite")
    write_delta(o, path, mode="overwrite")
    # both versions readable pre-vacuum
    assert read_delta(spark, path, version=0).count() == f.count()
    deleted = vacuum_delta(path, retain_versions=1)
    assert deleted, "vacuum should delete the overwritten v0 files"
    # latest unaffected; travel past the horizon now fails on missing files
    assert read_delta(spark, path).count() == o.count()
    with pytest.raises(Exception):
        read_delta(spark, path, version=0).count()


def test_vacuum_retains_everything_when_window_covers_all(
    spark, sf_dir, tmp_path
):
    from tscd_datalake_adapter_spark.sources.delta_lite import vacuum_delta

    path = str(tmp_path / "t")
    src = _orders(spark, sf_dir).limit(100)
    write_delta(src, path)
    write_delta(src.limit(10), path, mode="overwrite")
    assert vacuum_delta(path, retain_versions=2) == []
    assert read_delta(spark, path, version=0).count() == 100


def test_checkpoint_roundtrip_and_resume(spark, sf_dir, tmp_path):
    """Checkpoint compaction: after checkpoint_delta the reader resumes
    from the parquet snapshot (+ later JSON commits), and the state is
    identical to the pure-JSON replay."""
    from tscd_datalake_adapter_spark.sources.delta_lite import (
        checkpoint_delta,
    )

    path = str(tmp_path / "t")
    src = _orders(spark, sf_dir)
    f = src.where(F.col("o_orderstatus") == "F")
    o = src.where(F.col("o_orderstatus") == "O")
    write_delta(f, path, mode="overwrite")
    write_delta(o, path, mode="append")
    before = sorted(map(tuple, read_delta(spark, path).collect()))
    v = checkpoint_delta(path)
    assert v == 1
    after = sorted(map(tuple, read_delta(spark, path).collect()))
    assert before == after
    # a commit AFTER the checkpoint lands on top of the snapshot
    p = src.where(F.col("o_orderstatus") == "P")
    assert write_delta(p, path, mode="append") == 2
    assert read_delta(spark, path).count() == f.count() + o.count() + p.count()


def test_checkpoint_cleanup_bounds_time_travel(spark, sf_dir, tmp_path):
    """Log cleanup after checkpointing: latest reads work from the
    snapshot alone; time travel to a cleaned-up version raises instead of
    silently returning wrong data."""
    from tscd_datalake_adapter_spark.sources.delta_lite import (
        checkpoint_delta,
    )

    path = str(tmp_path / "t")
    src = _orders(spark, sf_dir)
    f = src.where(F.col("o_orderstatus") == "F")
    o = src.where(F.col("o_orderstatus") == "O")
    write_delta(f, path, mode="overwrite")
    write_delta(o, path, mode="overwrite")
    checkpoint_delta(path, cleanup=True)
    assert not os.path.exists(
        os.path.join(path, "_delta_log", f"{0:020d}.json")
    )
    assert read_delta(spark, path).count() == o.count()
    with pytest.raises(ValueError, match="not reconstructable"):
        read_delta(spark, path, version=0)
    # writes continue from the checkpointed version
    assert write_delta(f, path, mode="append") == 2
    assert read_delta(spark, path).count() == o.count() + f.count()


def test_log_head_ends_at_a_version_zero_checkpoint(spark, sf_dir, tmp_path):
    """The log's latest version is max(last JSON commit, last checkpoint):
    a log cleaned up down to a version-0 checkpoint ends at 0 (not -1), so
    an incremental read of version 0 reports the cleaned-up commit; a
    directory with no log is not a table."""
    from tscd_datalake_adapter_spark.sources.delta_lite import (
        _log_head,
        checkpoint_delta,
        read_delta_changes,
    )

    path = str(tmp_path / "t")
    write_delta(_orders(spark, sf_dir), path)
    assert checkpoint_delta(path, cleanup=True) == 0
    assert _log_head(path) == ([], 0, 0)
    with pytest.raises(ValueError, match="cleaned up"):
        read_delta_changes(spark, path, 0)
    with pytest.raises(FileNotFoundError):
        _log_head(str(tmp_path / "no_table"))


def test_checkpointed_partitioned_table_roundtrips(spark, sf_dir, tmp_path):
    from tscd_datalake_adapter_spark.sources.delta_lite import (
        checkpoint_delta,
    )

    path = str(tmp_path / "t")
    src = _orders(spark, sf_dir)
    write_delta(src, path, partition_by=("o_orderstatus",))
    checkpoint_delta(path, cleanup=True)
    back = read_delta(spark, path)
    assert back.count() == src.count()
    assert (
        back.where(F.col("o_orderstatus") == "F").count()
        == src.where(F.col("o_orderstatus") == "F").count()
    )


def test_vacuum_after_checkpoint_cleanup_keeps_latest(
    spark, sf_dir, tmp_path
):
    from tscd_datalake_adapter_spark.sources.delta_lite import (
        checkpoint_delta,
        vacuum_delta,
    )

    path = str(tmp_path / "t")
    src = _orders(spark, sf_dir)
    f = src.where(F.col("o_orderstatus") == "F")
    o = src.where(F.col("o_orderstatus") == "O")
    write_delta(f, path, mode="overwrite")
    write_delta(o, path, mode="overwrite")
    checkpoint_delta(path, cleanup=True)
    deleted = vacuum_delta(path, retain_versions=1)
    assert deleted  # v0's files are unreferenced by the snapshot
    assert read_delta(spark, path).count() == o.count()


def test_partition_layout_is_pinned_and_inherited(spark, sf_dir, tmp_path):
    """Partition columns are pinned at table creation: appends and merges
    inherit them (no partition_by needed), and a conflicting layout is
    refused instead of silently writing files the partition-column
    reconstruction cannot read."""
    from tscd_datalake_adapter_spark.sources.delta_lite import merge_delta

    path = str(tmp_path / "t")
    src = _orders(spark, sf_dir)
    f = src.where(F.col("o_orderstatus") == "F")
    o = src.where(F.col("o_orderstatus") == "O")
    write_delta(f, path, partition_by=("o_orderstatus",))
    # append without partition_by: inherited, stays hive-partitioned
    write_delta(o, path, mode="append")
    back = read_delta(spark, path)
    assert back.count() == f.count() + o.count()
    assert (
        back.where(F.col("o_orderstatus") == "O").count() == o.count()
    )
    # conflicting layout is refused
    with pytest.raises(ValueError, match="pinned partition columns"):
        write_delta(o, path, mode="append", partition_by=())
    # merge preserves the layout too (updates ride the inherited pcols)
    updates = f.limit(20).select(
        "o_orderkey",
        F.lit("X").alias("o_orderstatus"),
        F.col("o_totalprice"),
    )
    merge_delta(spark, path, updates, key="o_orderkey")
    back2 = read_delta(spark, path)
    assert back2.where(F.col("o_orderstatus") == "X").count() == 20
    assert back2.count() == f.count() + o.count()


def test_checkpoint_tombstone_retention(spark, sf_dir, tmp_path):
    """checkpoint_delta(tombstone_retention_ms=...) drops tombstones
    older than the retention window (the spec's
    deletedFileRetentionDuration) — fresh removes stay."""
    import pyarrow.parquet as pq

    from tscd_datalake_adapter_spark.sources.delta_lite import (
        checkpoint_delta,
    )

    path = str(tmp_path / "t")
    src = _orders(spark, sf_dir)
    write_delta(src.limit(10), path)
    write_delta(src.limit(4), path, mode="overwrite")  # fresh tombstones
    v = checkpoint_delta(path, tombstone_retention_ms=60_000)
    cp = pq.read_table(
        os.path.join(path, "_delta_log", f"{v:020d}.checkpoint.parquet")
    ).to_pylist()
    assert any(r.get("remove") for r in cp)  # within retention: kept
    v2 = checkpoint_delta(path, tombstone_retention_ms=0)
    cp2 = pq.read_table(
        os.path.join(path, "_delta_log", f"{v2:020d}.checkpoint.parquet")
    ).to_pylist()
    assert not any(r.get("remove") for r in cp2)  # expired: dropped
    assert read_delta(spark, path).count() == 4


def test_real_multiprocess_append_race(spark, sf_dir, tmp_path):
    """REAL concurrency (not a monkeypatched rival): 4 processes each
    commit 6 single-file appends to the same table simultaneously via
    commit_files (pyarrow data files, no Spark needed in the workers).
    Every commit must land: 24 rows, 24 contiguous versions after the
    creation commit, no duplicates, no lost updates."""
    import multiprocessing as mp

    path = str(tmp_path / "t")
    src = _orders(spark, sf_dir).limit(1)
    write_delta(src, path)  # version 0 creates the table single-writer

    ctx = mp.get_context("fork")
    errs = ctx.Queue()
    procs = [
        ctx.Process(target=_race_worker, args=(path, w, errs))
        for w in range(4)
    ]
    for p in procs:
        p.start()
    for p in procs:
        p.join(timeout=120)
    failures = []
    while not errs.empty():
        failures.append(errs.get())
    assert not failures, failures

    back = read_delta(spark, path)
    assert back.count() == 1 + 24
    keys = [
        r.o_orderkey
        for r in back.where("o_orderkey >= 1000000").collect()
    ]
    assert sorted(keys) == sorted(
        1000000 + w * 100 + i for w in range(4) for i in range(6)
    )
    from tscd_datalake_adapter_spark.sources.delta_lite import (
        _existing_versions,
    )

    assert _existing_versions(path) == list(range(25))


def _race_worker(path, worker, errq):
    try:
        import pyarrow as pa
        import pyarrow.parquet as pq

        from tscd_datalake_adapter_spark.sources.delta_lite import (
            commit_files,
        )
        from tscd_datalake_adapter_spark.sources import load_table  # noqa: F401

        # the table schema: (o_orderkey long, o_orderstatus string,
        # o_totalprice double) — mirror it exactly
        from pyspark.sql import types as T

        schema = T.StructType(
            [
                T.StructField("o_orderkey", T.LongType()),
                T.StructField("o_orderstatus", T.StringType()),
                T.StructField("o_totalprice", T.DoubleType()),
            ]
        )
        import os as _os
        import uuid as _uuid

        for i in range(6):
            key = 1000000 + worker * 100 + i
            u = _uuid.uuid4().hex
            name = f"part-00000-{u}.parquet"
            tmp = _os.path.join(path, f"._{u}.tmp")
            pq.write_table(
                pa.table(
                    {
                        "o_orderkey": pa.array([key], pa.int64()),
                        "o_orderstatus": pa.array(["X"], pa.string()),
                        "o_totalprice": pa.array([1.0], pa.float64()),
                    }
                ),
                tmp,
            )
            _os.rename(tmp, _os.path.join(path, name))
            commit_files(
                path,
                [name],
                schema,
                mode="append",
                operation="INGEST",
                _commit_uuid=u,
            )
    except Exception as exc:  # pragma: no cover
        errq.put(f"worker {worker}: {exc!r}")


def test_delete_delta_row_level_copy_on_write(spark, sf_dir, tmp_path):
    """r11: DELETE FROM ... WHERE on delta_lite — stats-pruned
    copy-on-write as ONE version. Untouched add actions carried
    verbatim; NULL predicates keep rows; no-match deletes commit
    nothing; pre-delete versions stay travel-readable."""
    from tscd_datalake_adapter_spark.sources.delta_lite import (
        _replay,
        delete_delta,
    )

    path = str(tmp_path / "t")
    src = (
        _orders(spark, sf_dir)
        .select("o_orderkey", "o_totalprice")
        .where("o_orderkey < 2000")
        .repartitionByRange(4, "o_orderkey")
        .sortWithinPartitions("o_orderkey")
    )
    write_delta(src, path, mode="append")
    files_before = set(_replay(path, None)["files"])
    assert len(files_before) == 4

    lo_key = src.agg(F.min("o_orderkey")).first()[0]
    res = delete_delta(spark, path, f"o_orderkey = {lo_key}")
    assert res["deleted_rows"] == 1
    assert res["rewritten_files"] == 1  # stats pruned 3 of 4 files
    files_after = set(_replay(path, None)["files"])
    assert len(files_before & files_after) == 3  # carried untouched
    got = read_delta(spark, path)
    assert got.count() == src.count() - 1
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, src.where(f"o_orderkey <> {lo_key}").collect())
    )
    hist = table_history(path)
    assert hist[-1]["operation"] == "DELETE"
    # time travel: version 0 still serves the deleted row
    assert (
        read_delta(spark, path, version=0)
        .where(f"o_orderkey = {lo_key}")
        .count()
        == 1
    )

    # no-match delete: no commit at all
    v = _replay(path, None)["version"]
    res = delete_delta(spark, path, "o_orderkey = -5")
    assert res == {
        "version": v, "deleted_rows": 0, "rewritten_files": 0,
    }
    assert _replay(path, None)["version"] == v

    # NULL predicate keeps rows
    from pyspark.sql import Row, types as T

    null_df = spark.createDataFrame(
        [Row(o_orderkey=None, o_totalprice=None)],
        T.StructType([
            T.StructField("o_orderkey", T.LongType(), True),
            T.StructField(
                "o_totalprice", got.schema["o_totalprice"].dataType, True
            ),
        ]),
    )
    write_delta(null_df, path, mode="append")
    delete_delta(spark, path, "o_orderkey > 0")
    left = read_delta(spark, path)
    assert left.count() == 1
    assert left.first()["o_orderkey"] is None


def test_update_delta_row_level(spark, sf_dir, tmp_path):
    """r11: copy-on-write UPDATE ... SET ... WHERE on delta_lite —
    stats-pruned rewrite, matched rows transformed with the declared
    type preserved, partition-column SET refused, no-match commits
    nothing, NULL predicates leave rows unchanged."""
    from tscd_datalake_adapter_spark.sources.delta_lite import (
        _replay,
        update_delta,
    )

    path = str(tmp_path / "t")
    src = (
        _orders(spark, sf_dir)
        .where("o_orderkey < 2000")
        .repartitionByRange(4, "o_orderkey")
        .sortWithinPartitions("o_orderkey")
    )
    write_delta(src, path, partition_by=("o_orderstatus",),
                mode="append")

    lo_key = src.agg(F.min("o_orderkey")).first()[0]
    res = update_delta(
        spark, path, f"o_orderkey = {lo_key}",
        {"o_totalprice": "o_totalprice * 2"},
    )
    assert res["updated_rows"] == 1
    got = read_delta(spark, path)
    assert got.schema["o_totalprice"].dataType == src.schema[
        "o_totalprice"
    ].dataType
    old = src.where(f"o_orderkey = {lo_key}").first()["o_totalprice"]
    new = got.where(f"o_orderkey = {lo_key}").first()["o_totalprice"]
    assert float(new) == float(old) * 2
    a = sorted(
        map(tuple, got.where(f"o_orderkey <> {lo_key}")
            .select(*src.columns).collect())
    )
    b = sorted(
        map(tuple, src.where(f"o_orderkey <> {lo_key}").collect())
    )
    assert a == b
    assert table_history(path)[-1]["operation"] == "UPDATE"

    # no-match: no commit
    v = _replay(path, None)["version"]
    res = update_delta(
        spark, path, "o_orderkey = -1", {"o_totalprice": "0.0"}
    )
    assert res["updated_rows"] == 0
    assert _replay(path, None)["version"] == v

    # partition-column SET refused
    with pytest.raises(ValueError, match="partition columns"):
        update_delta(
            spark, path, "o_orderkey > 0", {"o_orderstatus": "'X'"}
        )


def test_multi_part_checkpoint_roundtrip(spark, sf_dir, tmp_path):
    """r11: the spec's MULTI-PART classic checkpoint — parts=N writes
    V.checkpoint.{p:010d}.{N:010d}.parquet × N and _last_checkpoint
    carries parts=N; the reader unions every part, so replay after log
    cleanup serves exactly the same state (adds, tombstones, txns,
    metadata) as before. A missing part refuses loudly instead of
    resuming from partial state."""
    import glob as _glob

    from tscd_datalake_adapter_spark.sources.delta_lite import (
        _replay,
        checkpoint_delta,
        last_txn_version,
    )

    path = str(tmp_path / "t")
    src = _orders(spark, sf_dir)
    write_delta(src.where("o_orderkey < 300"), path, mode="append")
    write_delta(
        src.where("o_orderkey >= 300 AND o_orderkey < 700"),
        path, mode="append",
        txn={"appId": "feed", "version": 7},
    )
    # an overwrite so the checkpoint must carry tombstones too
    write_delta(
        src.where("o_orderkey < 500"), path, mode="overwrite"
    )
    before = _replay(path, None)

    v = checkpoint_delta(path, cleanup=True, parts=3)
    part_files = sorted(
        _glob.glob(
            os.path.join(path, "_delta_log", f"{v:020d}.checkpoint.*.parquet")
        )
    )
    assert len(part_files) == 3
    assert part_files[0].endswith(
        f"{v:020d}.checkpoint.0000000001.0000000003.parquet"
    )
    # no JSON commits left: the state below comes from the parts alone
    assert not _glob.glob(os.path.join(path, "_delta_log", "*.json"))

    after = _replay(path, None)
    assert after["files"].keys() == before["files"].keys()
    assert after["tombstones"].keys() == before["tombstones"].keys()
    assert after["metadata"]["schemaString"] == before["metadata"][
        "schemaString"
    ]
    assert last_txn_version(path, "feed") == 7
    got = read_delta(spark, path)
    assert got.count() == src.where("o_orderkey < 500").count()

    # further commits on top of the multi-part checkpoint still work
    write_delta(
        src.where("o_orderkey >= 700 AND o_orderkey < 900"),
        path, mode="append",
    )
    assert read_delta(spark, path).count() == src.where(
        "o_orderkey < 500 OR (o_orderkey >= 700 AND o_orderkey < 900)"
    ).count()

    # a missing part is refused, never silently partial
    os.unlink(part_files[1])
    with pytest.raises(NotImplementedError, match="missing parts"):
        _replay(path, None)


def test_restore_delta_to_version(spark, sf_dir, tmp_path):
    """r11: RESTORE TABLE TO VERSION — a metadata-only commit re-adding
    since-removed files and tombstoning since-added ones; history is
    preserved (the restore is itself a commit), schema drift restores
    too, and restoring past a vacuum fails loudly."""
    from tscd_datalake_adapter_spark.sources.delta_lite import (
        restore_delta,
        vacuum_delta,
    )

    path = str(tmp_path / "t")
    src = _orders(spark, sf_dir)
    write_delta(src.where("o_orderkey < 500"), path, mode="append")  # v0
    write_delta(
        src.where("o_orderkey >= 500 AND o_orderkey < 900"),
        path, mode="append",
    )  # v1
    v1_rows = sorted(map(tuple, read_delta(spark, path).collect()))
    # v2: schema-evolving overwrite (column renamed)
    write_delta(
        src.where("o_orderkey < 200")
        .withColumnRenamed("o_totalprice", "price"),
        path, mode="overwrite",
    )
    assert "price" in read_delta(spark, path).columns

    res = restore_delta(path, 1)
    assert res["version"] == 3
    assert res["readded_files"] > 0 and res["removed_files"] > 0
    got = read_delta(spark, path)
    assert "o_totalprice" in got.columns  # schema restored
    assert sorted(map(tuple, got.collect())) == v1_rows
    hist = table_history(path)
    assert hist[-1]["operation"] == "RESTORE"
    # history preserved: v2 still travels
    assert "price" in read_delta(spark, path, version=2).columns
    # restore to current = no-op
    assert restore_delta(path, 3) == {
        "version": 3, "readded_files": 0, "removed_files": 0,
    }
    # appends continue on the restored state
    write_delta(
        src.where("o_orderkey >= 900 AND o_orderkey < 1100"),
        path, mode="append",
    )
    assert read_delta(spark, path).count() == src.where(
        "o_orderkey < 1100"
    ).count()

    # a vacuumed version cannot be restored: its files are gone
    vacuum_delta(path, retain_versions=1)
    with pytest.raises(ValueError, match="physically removed"):
        restore_delta(path, 2)


def test_restore_delta_to_timestamp(spark, sf_dir, tmp_path):
    """r11: timestamp-based RESTORE resolves through inCommitTimestamp
    and restores the version current at the cutoff."""
    from tscd_datalake_adapter_spark.sources.delta_lite import (
        restore_delta_to_timestamp,
    )

    path = str(tmp_path / "t")
    src = _orders(spark, sf_dir)
    write_delta(src.where("o_orderkey < 400"), path, mode="append",
                commit_timestamp_ms=1_000)
    write_delta(src.where("o_orderkey < 10"), path, mode="overwrite",
                commit_timestamp_ms=2_000)
    res = restore_delta_to_timestamp(path, 1_500)
    assert res["version"] == 2
    assert read_delta(spark, path).count() == src.where(
        "o_orderkey < 400"
    ).count()
    with pytest.raises(ValueError, match="did not exist"):
        restore_delta_to_timestamp(path, 500)


def test_update_delta_multi_column_swap_semantics(spark, sf_dir, tmp_path):
    """Review fix (r11): every SET expression and the WHERE predicate
    must evaluate against the ORIGINAL row — a column swap is the
    canonical probe (sequential withColumn breaks it), and a SET whose
    target feeds the predicate must not un-match the row halfway."""
    from pyspark.sql import Row, types as T

    from tscd_datalake_adapter_spark.sources.delta_lite import (
        update_delta,
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
    write_delta(df, path, mode="append")
    # a < 10 matches only id=1; a doubles PAST the predicate bound and
    # b must still update; and the swap form must read original values
    res = update_delta(
        spark, path, "a < 10", {"a": "a * 2", "b": "b + 1"}
    )
    assert res["updated_rows"] == 1
    rows = {r["id"]: (r["a"], r["b"]) for r in read_delta(spark, path).collect()}
    assert rows == {1: (12, 101), 2: (20, 200)}

    res = update_delta(spark, path, "id = 2", {"a": "b", "b": "a"})
    assert res["updated_rows"] == 1
    rows = {r["id"]: (r["a"], r["b"]) for r in read_delta(spark, path).collect()}
    assert rows == {1: (12, 101), 2: (200, 20)}  # true swap


def test_banded_appends_equivalent_to_sequential(spark, tmp_path):
    """The r12 one-job fixture builder (operators.io._banded_appends)
    must produce the SAME table state as N sequential append writes:
    identical rows, one version per band, one data file per commit (the
    layout every stats-skipping demo's rewritten_files assert pins), and
    footer-derived per-file stats that prune identically."""
    from pyspark.sql import functions as F

    from tscd_datalake_adapter_spark.operators.io import _banded_appends
    from tscd_datalake_adapter_spark.sources.delta_lite import (
        _replay,
        read_delta,
        table_history,
        write_delta,
    )

    # single-partition source so the sequential form writes ONE file per
    # append (the demos' orders scans are single-partition at test SFs —
    # the layout their rewritten_files asserts pin)
    df = (
        spark.range(0, 300)
        .select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
        .coalesce(1)
    )
    bounds = [(0, 100), (100, 200), (200, 300)]

    p_seq = str(tmp_path / "seq")
    for lo, hi in bounds:
        write_delta(
            df.where((F.col("k") >= lo) & (F.col("k") < hi)),
            p_seq,
            mode="append",
        )
    p_band = str(tmp_path / "band")
    _banded_appends(df, p_band, "k", bounds, "delta")

    a = sorted(tuple(r) for r in read_delta(spark, p_seq).collect())
    b = sorted(tuple(r) for r in read_delta(spark, p_band).collect())
    assert a == b
    assert len(table_history(p_band)) == len(table_history(p_seq)) == 3
    # one file per commit, and per-version file sets carry the same keys
    for v in range(3):
        fs = _replay(p_seq, v)["files"]
        fb = _replay(p_band, v)["files"]
        assert len(fs) == len(fb) == v + 1
    # stats prune identically: the high band read touches ONE file
    pruned = read_delta(spark, p_band, where="k >= 250")
    assert pruned.count() == 50


@pytest.mark.parametrize("fmt", ["delta", "iceberg"])
def test_banded_appends_rejects_empty_band(spark, tmp_path, fmt):
    """A band that matches no rows fails at fixture-build time, naming the
    band, and commits no version at all (the banded form would otherwise
    log a zero-file version the sequential form never writes)."""
    from tscd_datalake_adapter_spark.operators.io import _banded_appends

    df = spark.range(0, 300).select(F.col("id").alias("k"))
    p = str(tmp_path / fmt)
    with pytest.raises(ValueError, match=r"band 1 \[500, 600\)"):
        _banded_appends(df, p, "k", [(0, 100), (500, 600), (200, 300)], fmt)
    assert not os.path.exists(p)
    assert not os.path.exists(p + "_bandstage")
