"""Lake-adapter round-trip tests (SURVEY.md §5.2 item 3)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from tscd_datalake_adapter_spark.lake import LakeAdapter
from tscd_datalake_adapter_spark.lake.adapter import BOOK_SCHEMA, InvalidBookId
from tscd_datalake_adapter_spark.lake.api import IngestApi

pytestmark = pytest.mark.smoke

TS = dt.datetime(2026, 8, 13, 14, 30, 0)
TS2 = dt.datetime(2026, 8, 14, 9, 0, 0)


@pytest.fixture()
def lake(spark, tmp_path):
    return LakeAdapter(spark, str(tmp_path / "lake"))


def test_ingest_list_exists_roundtrip(lake, book_dir):
    results = lake.ingest_files(
        sorted(str(p) for p in book_dir.iterdir()), TS
    )
    assert all(r["status"] == "ingested" for r in results)
    assert lake.list_books() == [11, 22, 33]
    assert lake.exists(22)
    assert not lake.exists(999)
    # Re-read schema equality on names+types (SURVEY.md §5.2 item 3);
    # nullability flags are owned by the parquet reader, not the contract.
    got = [(f.name, f.dataType) for f in lake.read().schema.fields]
    want = [(f.name, f.dataType) for f in BOOK_SCHEMA.fields]
    assert got == want


def test_partition_layout(lake, book_dir):
    lake.ingest_files(sorted(str(p) for p in book_dir.iterdir()), TS)
    import os

    part = os.path.join(lake.lake_root, "ingest_date=20260813", "ingest_hour=14")
    assert os.path.isdir(part)
    row = (
        lake.read()
        .where(F.col("book_id") == 11)
        .select("ingest_date", "ingest_hour", "header", "body")
        .first()
    )
    assert (row.ingest_date, row.ingest_hour) == ("20260813", "14")
    assert row.body.startswith("MOBY DICK ***")


def test_duplicate_ingest_idempotent_listing(lake, book_dir):
    paths = sorted(str(p) for p in book_dir.iterdir())
    lake.ingest_files(paths, TS)
    lake.ingest_files(paths, TS2)  # same ids, different partition
    # Both partition paths exist; list/exists report each id once
    # (FIXTURES.md §F2 duplicate-ingest case).
    assert lake.list_books() == [11, 22, 33]
    assert lake.read().where(F.col("book_id") == 11).count() == 2
    assert lake.exists(11)


def test_empty_lake(lake):
    assert lake.list_books() == []
    assert not lake.exists(1)


def test_invalid_book_id(lake):
    for bad in ("abc", 0, -5, None, "1.5"):
        with pytest.raises(InvalidBookId):
            lake.exists(bad)


def test_relative_path_for(lake):
    # R7 shape: datalake/{yyyyMMdd}/{HH}/{id} (S3DatalakeStorage.java:121-124).
    assert lake.relative_path_for(7, TS) == "datalake/20260813/14/7"


def test_distributed_bulk_ingest(lake, spark, book_dir):
    from tests.conftest import BOOK_NO_END, BOOK_V1, BOOK_V2

    raw = spark.createDataFrame(
        [(1, BOOK_V1), (2, BOOK_V2), (3, BOOK_NO_END)],
        "book_id long, raw string",
    )
    failed = lake.ingest_raw_df(raw, TS)
    assert failed == 1  # the unparseable book is dropped, counted
    assert lake.list_books() == [1, 2]


def test_compaction(lake, book_dir, spark):
    import glob

    paths = sorted(str(p) for p in book_dir.iterdir())
    lake.ingest_files(paths, TS)  # 3 separate commits → ≥3 files
    part_glob = f"{lake.lake_root}/ingest_date=20260813/ingest_hour=14/*.parquet"
    assert len(glob.glob(part_glob)) >= 3
    before = sorted(tuple(r) for r in lake.read().collect())

    n = lake.compact("20260813", "14", target_files=1)
    assert n == 3
    assert len(glob.glob(part_glob)) == 1  # small files merged
    after = sorted(tuple(r) for r in lake.read().collect())
    assert before == after  # data byte-identical
    assert lake.list_books() == [11, 22, 33]

    # missing partition: no live files, so no commit — nothing deleted
    # elsewhere
    assert lake.compact("19990101", "03") == 0
    assert sorted(tuple(r) for r in lake.read().collect()) == after


def test_approx_percentile_bounds(spark, sf_dir):
    from tscd_datalake_adapter_spark.operators.relational_extra import (
        approx_percentiles_by_status,
    )

    for r in approx_percentiles_by_status(spark, sf_dir).collect():
        assert abs(r.approx_median - r.exact_median) <= 0.02 * abs(r.exact_median)
        assert abs(r.approx_p90 - r.exact_p90) <= 0.02 * abs(r.exact_p90)


def test_approx_count_distinct_bounds(spark, sf_dir):
    from tscd_datalake_adapter_spark.operators.relational_extra import (
        approx_count_distinct_custkeys,
    )

    for r in approx_count_distinct_custkeys(spark, sf_dir).collect():
        # rsd=0.02 → generous 10% acceptance band
        assert abs(r.approx_customers - r.exact_customers) <= max(
            3, 0.1 * r.exact_customers
        )


def test_retention_expire(lake, book_dir):
    paths = sorted(str(p) for p in book_dir.iterdir())
    lake.ingest_files(paths, TS)   # 20260813
    lake.ingest_files(paths, TS2)  # 20260814
    assert lake.expire("20260814") == 1  # drops only the 0813 partition
    assert lake.read().select("ingest_date").distinct().collect()[0][0] == "20260814"
    assert lake.list_books() == [11, 22, 33]  # newer copies survive
    assert lake.expire("20260813") == 0  # nothing older left


@pytest.mark.parametrize("backend", ["delta", "iceberg"])
def test_read_as_of_after_maintenance_purge(spark, tmp_path, book_dir, backend):
    """ADVICE r9 (medium): maintenance commits (compact/expire) are
    stamped at the NEWEST INGEST time, not the wall clock — otherwise
    read_as_of for any cutoff in (last-ingest-stamp, wall-clock-now)
    resolves to a pre-maintenance version whose files the purge just
    deleted: a scan crash on delta, a silently EMPTY lake on iceberg
    (expire_snapshots trims the snapshot-log)."""
    lake = LakeAdapter(spark, str(tmp_path / f"mlake_{backend}"), backend=backend)
    paths = sorted(str(p) for p in book_dir.iterdir())
    lake.ingest_files(paths, TS)

    # compact purges the replaced small files; a cutoff 1 min after the
    # last ingest (but well before the wall-clock maintenance run) must
    # resolve to the surviving compacted snapshot
    lake.compact("20260813", "14", target_files=1)
    as_of = lake.read_as_of(TS + dt.timedelta(minutes=1))
    assert sorted(r.book_id for r in as_of.collect()) == [11, 22, 33]

    # expire drops the 0813 partition and purges its files; a cutoff
    # just after the newest ingest must still see the surviving 0814 rows
    lake.ingest_files(paths, TS2)
    lake.expire("20260814")
    as_of2 = lake.read_as_of(TS2 + dt.timedelta(minutes=1))
    rows = as_of2.select("book_id", "ingest_date").collect()
    assert sorted(r.book_id for r in rows) == [11, 22, 33]
    assert {r.ingest_date for r in rows} == {"20260814"}


@pytest.mark.parametrize("backend", ["delta", "iceberg"])
def test_books_ingested_since_change_feed(
    spark, tmp_path, book_dir, backend
):
    """r10 change-feed over the reference surface: poll the books
    appended by INGEST commits after a saved log position — maintenance
    rewrites (MERGE) in between are skipped, not re-surfaced."""
    lake = LakeAdapter(spark, str(tmp_path / f"clake_{backend}"), backend=backend)
    paths = sorted(str(p) for p in book_dir.iterdir())
    assert lake.log_position() is None
    assert lake.books_ingested_since(None).count() == 0

    lake.ingest_files(paths, TS)  # books 11, 22, 33
    pos = lake.log_position()
    assert pos is not None
    # everything from the beginning
    assert sorted(
        r.book_id for r in lake.books_ingested_since(None).collect()
    ) == [11, 22, 33]
    # nothing new yet at the saved cursor
    assert lake.books_ingested_since(pos).count() == 0

    # a MERGE (rewrite) between polls is NOT new data
    updates = spark.createDataFrame(
        [(22, "h", "merged body")],
        "book_id long, header string, body string",
    )
    lake.merge_books(updates, TS2, purge=False)
    assert lake.books_ingested_since(pos).count() == 0

    # new ingests after the cursor surface exactly once, with the full
    # row contract
    from tests.conftest import BOOK_V1

    lake.ingest_text(44, BOOK_V1, TS2)
    got = lake.books_ingested_since(pos)
    assert [f.name for f in got.schema.fields] == [
        f.name for f in lake.read().schema.fields
    ]
    rows = got.collect()
    assert [r.book_id for r in rows] == [44]
    assert rows[0].ingest_date == "20260814"


def test_merge_upsert(lake, book_dir, spark):
    lake.ingest_files(sorted(str(p) for p in book_dir.iterdir()), TS)
    lake.ingest_files(sorted(str(p) for p in book_dir.iterdir()), TS2)
    assert lake.read().where(F.col("book_id") == 22).count() == 2

    updates = spark.createDataFrame(
        [(22, "new header", "new body"), (44, "h44", "b44")],
        "book_id long, header string, body string",
    )
    ts3 = dt.datetime(2026, 8, 15, 10, 0, 0)
    lake.merge_books(updates, ts3)

    # updated book: exactly one row, the new version, in the merge partition
    rows = lake.read().where(F.col("book_id") == 22).collect()
    assert len(rows) == 1
    assert rows[0].body == "new body" and rows[0].ingest_date == "20260815"
    # inserted book appears; untouched books unchanged (both versions intact)
    assert lake.read().where(F.col("book_id") == 44).count() == 1
    assert lake.read().where(F.col("book_id") == 11).count() == 2
    assert lake.list_books() == [11, 22, 33, 44]


def test_merge_physically_drops_fully_superseded_partition(
    lake, book_dir, spark
):
    """A partition whose EVERY row is updated away must physically
    disappear: the merge's commit removes the partition's only file and
    writes nothing back there, and the purge unlinks the file and prunes
    the emptied partition directories. read_latest output is unchanged by
    the delete."""
    import os

    # book 55 alone in its own partition; 11/22/33 together in another
    lake.ingest_text(
        55,
        "Header 55\n*** START OF THE PROJECT GUTENBERG EBOOK X ***\n"
        "old body\n*** END OF THE PROJECT GUTENBERG EBOOK X ***\n",
        TS,
    )
    assert lake.exists(55)
    lake.ingest_files(sorted(str(p) for p in book_dir.iterdir()), TS2)

    solo_part = os.path.join(
        lake.lake_root, "ingest_date=20260813", "ingest_hour=14"
    )
    assert os.path.isdir(solo_part)

    updates = spark.createDataFrame(
        [(55, "h55", "new body")], "book_id long, header string, body string"
    )
    ts3 = dt.datetime(2026, 8, 15, 10, 0, 0)
    lake.merge_books(updates, ts3)

    # the fully-superseded partition is physically gone (day dir pruned too)
    assert not os.path.isdir(solo_part)
    assert not os.path.isdir(os.path.dirname(solo_part))
    # the other partition survives untouched; merge partition holds the new row
    rows = lake.read().where(F.col("book_id") == 55).collect()
    assert len(rows) == 1
    assert rows[0].body == "new body" and rows[0].ingest_date == "20260815"
    latest = lake.read_latest()
    assert latest.count() == 4
    by_id = {r.book_id: r for r in latest.collect()}
    assert by_id[55].body == "new body"
    assert by_id[11].ingest_date == TS2.strftime("%Y%m%d")
    assert lake.list_books() == [11, 22, 33, 55]


def test_read_latest_resolves_superseded_versions(lake, book_dir, spark):
    """read_latest() must show exactly one (the newest) version per book:
    a merged book resolves to its merge version, and the other books'
    append-created duplicates (two ingest partitions) to their newest
    ingest."""
    lake.ingest_files(sorted(str(p) for p in book_dir.iterdir()), TS)
    lake.ingest_files(sorted(str(p) for p in book_dir.iterdir()), TS2)

    updates = spark.createDataFrame(
        [(22, "new header", "new body")], "book_id long, header string, body string"
    )
    lake.merge_books(updates, dt.datetime(2026, 8, 15, 10, 0, 0))

    latest = lake.read_latest()
    assert latest.count() == 3  # one row per book, every book still listed
    by_id = {r.book_id: r for r in latest.collect()}
    assert by_id[22].body == "new body" and by_id[22].ingest_date == "20260815"
    # un-merged books resolve to their newest ingest (TS2 partition)
    assert by_id[11].ingest_date == TS2.strftime("%Y%m%d")
    assert by_id[33].ingest_date == TS2.strftime("%Y%m%d")


def test_read_as_of_time_travel(lake, book_dir, spark):
    """read_as_of(ts) reconstructs the lake at ts: versions newer than the
    cutoff are invisible, versions at/before it resolve to the newest one,
    and books born after the cutoff are absent entirely."""
    paths = sorted(str(p) for p in book_dir.iterdir())
    lake.ingest_files(paths[:2], TS)  # books 11, 22 on day 1
    lake.ingest_files(paths, TS2)  # all three re-ingested on day 2

    as_of_day1 = lake.read_as_of(dt.datetime(2026, 8, 13, 23, 0, 0))
    got = {(r.book_id, r.ingest_date) for r in as_of_day1.collect()}
    assert got == {(11, "20260813"), (22, "20260813")}  # book 33 not yet born

    as_of_now = lake.read_as_of(dt.datetime(2026, 8, 20, 0, 0, 0))
    got2 = {(r.book_id, r.ingest_date) for r in as_of_now.collect()}
    assert got2 == {(11, "20260814"), (22, "20260814"), (33, "20260814")}

    # cutoff exactly at TS includes the TS ingest (<=, not <)
    assert {r.book_id for r in lake.read_as_of(TS).collect()} == {11, 22}


def test_read_as_of_tz_aware_consistency(lake, book_dir):
    """A tz-aware ingest timestamp and a tz-aware cutoff must land on the
    same (UTC) clock: a book ingested at 10:00+02:00 is visible as of
    11:00+02:00 — regression test for comparing UTC cutoffs against
    wall-clock stored timestamps."""
    tz2 = dt.timezone(dt.timedelta(hours=2))
    paths = sorted(str(p) for p in book_dir.iterdir())
    lake.ingest_files(paths[:1], dt.datetime(2026, 8, 13, 10, 0, 0, tzinfo=tz2))

    visible = lake.read_as_of(dt.datetime(2026, 8, 13, 11, 0, 0, tzinfo=tz2))
    assert {r.book_id for r in visible.collect()} == {11}
    # stored ingest_ts is naive UTC (08:00), partition agrees
    row = lake.read().first()
    assert row.ingest_ts == dt.datetime(2026, 8, 13, 8, 0, 0)
    assert (row.ingest_date, row.ingest_hour) == ("20260813", "08")
    # a cutoff before the ingest (in UTC terms) hides it
    empty = lake.read_as_of(dt.datetime(2026, 8, 13, 9, 30, 0, tzinfo=tz2))
    assert empty.count() == 0


def test_distributed_url_fetch_ingest(lake, book_dir, spark):
    """Executor-parallel R1: fetch via urllib INSIDE mapInPandas workers
    (file:// URLs — same urllib code path as https, offline), then the
    distributed split/write. Bad URLs become error rows, not exceptions;
    unparseable books count as split failures; good books land in the lake."""
    urls = sorted(
        (int(p.name.split("_")[1].split(".")[0]), p.as_uri())
        for p in book_dir.iterdir()
    )
    urls.append((999, (book_dir / "missing.txt").as_uri()))  # fetch failure
    urls_df = spark.createDataFrame(urls, "book_id long, url string")

    fetched = lake.fetch_urls_distributed(urls_df)
    by_id = {r.book_id: r for r in fetched.collect()}
    assert by_id[999].raw is None and "fetch failed" in by_id[999].error
    assert by_id[11].error is None and "MOBY DICK" in by_id[11].raw

    stats = lake.ingest_urls(urls_df, TS)
    assert stats["fetch_failed"] == 1
    assert stats["split_failed"] == 0
    assert lake.list_books() == [11, 22, 33]
    row = lake.read().where(F.col("book_id") == 11).first()
    assert row.body.startswith("MOBY DICK ***")


def test_wholetext_dir_ingest(lake, book_dir):
    # Distributed R1 test mode: spark.read.text(wholetext) over book files.
    failed = lake.ingest_text_dir(str(book_dir / "*.txt"), TS)
    assert failed == 0
    assert lake.list_books() == [11, 22, 33]
    body = (
        lake.read().where(F.col("book_id") == 33).select("body").first().body
    )
    assert body.startswith("白鯨 🐋 ***")  # unicode + title-tail parity


def test_api_shapes(lake, book_dir):
    from tests.conftest import BOOK_V1

    api = IngestApi(lake)
    res = api.ingest(41, BOOK_V1, TS)
    assert res["status"] == "ingested"
    assert res["path"] == "datalake/20260813/14/41"
    assert res["date"] == "20260813" and res["hour"] == "14"

    assert api.status(41)["status"] == "available"
    assert api.status(404)["status"] == "not_found"
    assert api.status("x")["error"]["code"] == "invalid_book_id"
    assert api.ingest("x", BOOK_V1)["error"]["code"] == "invalid_book_id"
    assert api.ingest(5, "no markers")["error"]["code"] == "download_failed"

    listing = api.list()
    assert listing["count"] == 1 and listing["books"] == [41]
    assert api.health()["status"] == "ok"

    # the DELETE route (r11): erase, idempotent re-delete, bad id
    res = api.delete(41)
    assert res["status"] == "deleted" and res["deleted_rows"] == 1
    assert api.status(41)["status"] == "not_found"
    assert api.list()["count"] == 0
    assert api.delete(41)["status"] == "not_found"
    assert api.delete("x")["error"]["code"] == "invalid_book_id"
    # idempotent even on a lake no ingest ever touched (no table yet)
    empty = IngestApi(
        LakeAdapter(lake.spark, str(book_dir) + "_void", backend=lake.backend)
    )
    assert empty.delete(7)["status"] == "not_found"


class TestOnIceberg:
    """The layout-agnostic tests above, on ``backend="iceberg"``: the
    class's ``lake`` fixture overrides the module's delta one. Tests that
    look at delta's ``ingest_date=`` directories or ``_delta_log`` stay
    delta-only."""

    @pytest.fixture()
    def lake(self, spark, tmp_path):
        return LakeAdapter(spark, str(tmp_path / "lake"), backend="iceberg")

    test_ingest_list_exists_roundtrip = staticmethod(
        test_ingest_list_exists_roundtrip
    )
    test_duplicate_ingest_idempotent_listing = staticmethod(
        test_duplicate_ingest_idempotent_listing
    )
    test_empty_lake = staticmethod(test_empty_lake)
    test_invalid_book_id = staticmethod(test_invalid_book_id)
    test_distributed_bulk_ingest = staticmethod(test_distributed_bulk_ingest)
    test_retention_expire = staticmethod(test_retention_expire)
    test_merge_upsert = staticmethod(test_merge_upsert)
    test_read_latest_resolves_superseded_versions = staticmethod(
        test_read_latest_resolves_superseded_versions
    )
    test_read_as_of_time_travel = staticmethod(test_read_as_of_time_travel)
    test_read_as_of_tz_aware_consistency = staticmethod(
        test_read_as_of_tz_aware_consistency
    )
    test_wholetext_dir_ingest = staticmethod(test_wholetext_dir_ingest)
    test_api_shapes = staticmethod(test_api_shapes)


def test_lake_log_history_and_stray_file_invisibility(
    lake, book_dir, spark
):
    """The delta-backed lake (r9): every mutation is a logged commit —
    history() names them — and a stray parquet file dropped into the lake
    directory (a crashed writer, a manual copy) is INVISIBLE to reads."""
    import glob
    import os
    import shutil

    paths = sorted(str(p) for p in book_dir.iterdir())
    lake.ingest_files(paths, TS)
    ops = [h["operation"] for h in lake.history()]
    assert ops == ["INGEST", "INGEST", "INGEST"]

    # plant a stray copy of a committed data file in the same partition
    part_dir = os.path.join(
        lake.lake_root, "ingest_date=20260813", "ingest_hour=14"
    )
    some_file = glob.glob(os.path.join(part_dir, "*.parquet"))[0]
    shutil.copy(some_file, os.path.join(part_dir, "part-stray.parquet"))
    assert lake.read().count() == 3  # not 4: the stray is unlogged
    assert lake.list_books() == [11, 22, 33]

    n = lake.compact("20260813", "14", target_files=1)
    assert n == 3  # the compaction rewrote the LOGGED rows only
    ops = [h["operation"] for h in lake.history()]
    assert ops[-1] == "OPTIMIZE"


def test_merge_without_purge_keeps_time_travel(lake, book_dir, spark):
    """merge_books(purge=False) retains the tombstoned files, so log time
    travel to the pre-merge state still works."""
    lake.ingest_files(sorted(str(p) for p in book_dir.iterdir()), TS)
    updates = spark.createDataFrame(
        [(22, "new header", "new body")],
        "book_id long, header string, body string",
    )
    ts3 = dt.datetime(2026, 8, 15, 10, 0, 0)
    lake.merge_books(updates, ts3, purge=False)

    # post-merge state: one row for 22, the new version
    rows = lake.read().where(F.col("book_id") == 22).collect()
    assert len(rows) == 1 and rows[0].body == "new body"
    # pre-merge cutoff reconstructs the ORIGINAL row through the log
    old = lake.read_as_of(dt.datetime(2026, 8, 14, 0, 0, 0))
    by_id = {r.book_id: r for r in old.collect()}
    assert by_id[22].ingest_date == "20260813"
    assert "new body" not in by_id[22].body


def test_parquet_fallback_backend(spark, tmp_path):
    """A backend other than delta or iceberg (the log-free parquet
    layout among them) is refused at construction, naming both, and
    nothing is written."""
    root = tmp_path / "plake"
    with pytest.raises(ValueError, match="'delta' or 'iceberg'"):
        LakeAdapter(spark, str(root), backend="parquet")
    assert not root.exists()


def test_lake_write_carries_bloom_filter(spark, tmp_path):
    """The lake's book_id bloom filter must physically land in the files:
    writing identical data with the adapter's options must be measurably
    larger than a plain write (the bloom bitmap; pyarrow in this env does
    not expose bloom metadata, so size is the observable)."""
    import glob
    import os

    from tscd_datalake_adapter_spark.sources import load_table

    df = (
        load_table(spark, "/root/testdata/sf0.01", "orders")
        .selectExpr("o_orderkey AS book_id")
        .coalesce(1)
    )
    plain, bloomed = str(tmp_path / "plain"), str(tmp_path / "bloom")
    df.write.mode("overwrite").parquet(plain)
    (
        df.write.mode("overwrite")
        .option("parquet.bloom.filter.enabled#book_id", "true")
        .option("parquet.bloom.filter.expected.ndv#book_id", "100000")
        .parquet(bloomed)
    )

    def total(path):
        return sum(
            os.path.getsize(f)
            for f in glob.glob(f"{path}/*.parquet")
        )

    assert total(bloomed) > total(plain) + 10_000, (
        f"bloom={total(bloomed)} plain={total(plain)}: no bloom bitmap written"
    )
    # and the lookup answers stay correct through the bloomed files
    back = spark.read.parquet(bloomed)
    assert back.where("book_id = 1").count() == 1
    assert back.where("book_id = -5").count() == 0


def test_lake_auto_checkpoint_bounds_log_replay(spark, tmp_path, book_dir):
    """Ingest-heavy lakes auto-checkpoint every N commits (r9): with
    checkpoint_every=4, the 4th commit writes a classic checkpoint +
    _last_checkpoint, reads resume from it, and time travel through the
    retained JSON commits still works."""
    import os

    from tests.conftest import BOOK_V1

    lake = LakeAdapter(
        spark, str(tmp_path / "cplake"), checkpoint_every=4
    )
    for i in range(1, 6):
        lake.ingest_text(
            i, BOOK_V1, dt.datetime(2026, 8, 13, 10 + i, 0, 0)
        )
    log = os.path.join(lake.lake_root, "_delta_log")
    assert os.path.exists(os.path.join(log, "_last_checkpoint"))
    assert os.path.exists(
        os.path.join(log, f"{4:020d}.checkpoint.parquet")
    )  # fires when the version number reaches the stride (v4 = commit 5)
    assert lake.list_books() == [1, 2, 3, 4, 5]
    as_of = lake.read_as_of(dt.datetime(2026, 8, 13, 12, 30, 0))
    assert {r.book_id for r in as_of.collect()} == {1, 2}


def test_iceberg_backend_full_lifecycle(spark, tmp_path, book_dir):
    """The whole reference surface on backend="iceberg" (r9): ingest →
    exists/list → duplicate versions → merge (fully-superseded partition
    physically dropped after snapshot expiry) → compact → read_as_of
    time travel through the snapshot log → expire retention. Same
    operations, same answers as the delta backend — the adapter is
    format-agnostic."""
    import glob
    import os

    lake = LakeAdapter(spark, str(tmp_path / "ilake"), backend="iceberg")
    assert lake.list_books() == []
    res = lake.ingest_files(
        sorted(str(p) for p in book_dir.iterdir()), TS
    )
    assert all(r["backend"] == "spark-iceberg" for r in res)
    assert lake.list_books() == [11, 22, 33]
    assert lake.exists(22) and not lake.exists(999)

    # r10: the iceberg backend partitions NATIVELY by
    # day(ingest_ts)/hour(ingest_ts) — transform hive dirs on disk, and
    # the spec pins the transforms (not pre-derived string columns)
    assert os.path.isdir(
        os.path.join(
            lake.lake_root,
            "data",
            "ingest_ts_day=2026-08-13",
            "ingest_ts_hour=2026-08-13-14",
        )
    )
    from tscd_datalake_adapter_spark.sources.iceberg_lite import (
        load_metadata,
    )

    spec = load_metadata(lake.lake_root)["partition-specs"][0]["fields"]
    assert [(f["name"], f["transform"]) for f in spec] == [
        ("ingest_ts_day", "day"),
        ("ingest_ts_hour", "hour"),
    ]

    # time travel BEFORE later writes: snapshot-log resolution
    assert lake.read_as_of(
        dt.datetime(2026, 8, 13, 10, 0, 0)
    ).count() == 0
    assert {
        r.book_id for r in lake.read_as_of(TS).collect()
    } == {11, 22, 33}

    # duplicate ingest in another partition; read_latest resolves
    lake.ingest_files(
        sorted(str(p) for p in book_dir.iterdir()), TS2
    )
    assert lake.read().where(F.col("book_id") == 11).count() == 2
    assert lake.read_latest().count() == 3
    ops = [h["operation"] for h in lake.history()]
    assert ops == ["INGEST"] * 6

    # merge: book 11 fully superseded out of nothing; 44 inserted
    updates = spark.createDataFrame(
        [(22, "h", "merged body"), (44, "h44", "b44")],
        "book_id long, header string, body string",
    )
    ts3 = dt.datetime(2026, 8, 15, 10, 0, 0)
    lake.merge_books(updates, ts3)
    assert lake.list_books() == [11, 22, 33, 44]
    rows = lake.read().where(F.col("book_id") == 22).collect()
    assert len(rows) == 1 and rows[0].body == "merged body"
    # merge purge expired old snapshots: physical files of replaced
    # partitions are gone from disk
    n_files_before = len(
        glob.glob(
            os.path.join(lake.lake_root, "data", "**", "*.parquet"),
            recursive=True,
        )
    )
    assert n_files_before == len(set(lake.read().inputFiles()))

    # compact the merge partition down to one file
    n = lake.compact("20260815", "10", target_files=1)
    assert n == 2  # books 22 (merged) + 44 (inserted)
    assert lake.compact("19990101", "03") == 0  # absent: no commit
    ops = [h["operation"] for h in lake.history()]
    assert ops[-1] == "OPTIMIZE"

    # expire everything before the merge day: old partitions drop
    assert lake.expire("20260815") == 2  # the 0813 + 0814 days
    assert lake.list_books() == [22, 44]  # 11/33 lived only pre-merge
    assert lake.read().count() == 2
    # vacuum is snapshot expiry on iceberg
    assert lake.vacuum() == []  # maintenance already expired snapshots


@pytest.mark.parametrize("backend", ["delta", "iceberg"])
def test_erase_book_row_level_both_backends(
    spark, tmp_path, book_dir, backend
):
    """r11 (r10 verdict item 1): GDPR-style row-level erasure on BOTH
    table-format backends — bounds-pruned copy-on-write delete; with
    physical=True the erased bytes are physically unlinked (vacuum /
    snapshot expiry), after which no version serves the book."""
    import glob as _glob
    import os as _os

    lake = LakeAdapter(
        spark, str(tmp_path / f"elake_{backend}"), backend=backend
    )
    paths = sorted(str(p) for p in book_dir.iterdir())
    lake.ingest_files(paths, TS)
    assert lake.list_books() == [11, 22, 33]

    res = lake.erase_book(22)
    assert res["deleted_rows"] == 1
    assert res["backend"] == f"spark-{backend}"
    # single-book ingest files carry exact min==max book_id stats, so
    # the rewrite touches exactly the one file holding book 22
    assert res["rewritten_files"] == 1
    assert lake.list_books() == [11, 33]
    assert not lake.exists(22)
    # the other books' rows are untouched cell-for-cell
    rows = {r.book_id: r.body for r in lake.read().collect()}
    assert set(rows) == {11, 33}

    # idempotent: erasing again deletes nothing and commits nothing
    hist_len = len(lake.history())
    res2 = lake.erase_book(22)
    assert res2["deleted_rows"] == 0
    assert len(lake.history()) == hist_len

    # physical erase: after vacuum/expiry, NO parquet under the lake
    # contains the erased book (the actual GDPR contract)
    lake.ingest_files([str(book_dir / "book_22.txt")], TS2)
    res3 = lake.erase_book(22, physical=True)
    assert res3["deleted_rows"] == 1 and res3["erased_files"] >= 1
    assert lake.list_books() == [11, 33]
    remaining = set()
    for p in _glob.glob(
        _os.path.join(lake.lake_root, "**", "*.parquet"), recursive=True
    ):
        if "_delta_log" in p:
            continue
        remaining |= {
            r.book_id
            for r in spark.read.parquet(p).select("book_id").collect()
        }
    assert 22 not in remaining
    assert {11, 33} <= remaining

    with pytest.raises(InvalidBookId):
        lake.erase_book("nope")


def _assert_answers_match_spark_scan(lake, misses) -> None:
    """``list_books`` and ``exists`` (every live id, plus ``misses``)
    equal the answers of a Spark scan of ``read()``."""
    truth = sorted({r.book_id for r in lake.read().select("book_id").collect()})
    assert lake.list_books() == truth
    for bid in sorted(set(truth) | set(misses)):
        assert lake.exists(bid) == (bid in truth), bid


@pytest.mark.parametrize("backend", ["delta", "iceberg"])
def test_metadata_answers_match_spark_scan(spark, tmp_path, backend):
    """``exists``/``list_books`` answer from the table format's metadata
    plus pyarrow reads of the ``book_id`` column; after every kind of
    commit the adapter makes they must equal the Spark scan's answer."""
    import json
    import os

    from tests.conftest import BOOK_NO_END, BOOK_UNICODE, BOOK_V1, BOOK_V2

    # a root Spark's _metadata.file_path percent-encodes: position-delete
    # files name data files by that URI, manifests by the plain path
    root = tmp_path / f"d lake %20 {backend}"
    lake = LakeAdapter(spark, str(root), backend=backend)
    misses = [3, 4, 6, 7, 9, 12, 50, 999]
    _assert_answers_match_spark_scan(lake, misses)

    # bulk ingest with a malformed book: multi-id files, so in-range
    # misses (4, 6, 7) must be settled by reading the column
    raw = spark.createDataFrame(
        [
            (1, BOOK_V1),
            (2, BOOK_V2),
            (3, BOOK_NO_END),
            (5, BOOK_UNICODE),
            (8, BOOK_V1),
        ],
        "book_id long, raw string",
    )
    assert lake.ingest_raw_df(raw, TS) == 1
    _assert_answers_match_spark_scan(lake, misses)

    # single ingests: single-id files, answered from stats alone
    for bid, text in ((11, BOOK_V1), (22, BOOK_V2), (33, BOOK_UNICODE)):
        lake.ingest_text(bid, text, TS)
    _assert_answers_match_spark_scan(lake, misses)

    # the same ids again in a second partition
    lake.ingest_text(11, BOOK_V1, TS2)
    lake.ingest_text(2, BOOK_V2, TS2)
    _assert_answers_match_spark_scan(lake, misses)

    ts3 = dt.datetime(2026, 8, 15, 10, 0, 0)
    updates = spark.createDataFrame(
        [(22, "h", "merged body"), (44, "h44", "b44")],
        "book_id long, header string, body string",
    )
    lake.merge_books(updates, ts3)
    _assert_answers_match_spark_scan(lake, misses)

    assert lake.compact("20260813", "14") == 6
    _assert_answers_match_spark_scan(lake, misses)

    assert lake.erase_book(5)["deleted_rows"] == 1
    assert lake.erase_book(11)["deleted_rows"] == 2
    _assert_answers_match_spark_scan(lake, misses + [5, 11])

    if backend == "iceberg":
        from tscd_datalake_adapter_spark.sources.iceberg_lite import (
            delete_iceberg,
        )

        # position deletes: book 2 sits in the compacted multi-id file
        # and alone in its TS2 file, whose stats still say min == max == 2
        res = delete_iceberg(
            spark, lake.lake_root, "book_id = 2", strategy="merge-on-read"
        )
        assert res["deleted_rows"] == 2 and res["delete_files"] == 1
        _assert_answers_match_spark_scan(lake, misses + [2, 5, 11])
        res = delete_iceberg(
            spark, lake.lake_root, "book_id = 33", strategy="merge-on-read"
        )
        assert res["deleted_rows"] == 1
        _assert_answers_match_spark_scan(lake, misses + [2, 5, 11, 33])
    else:
        # an add without stats: the file may hold any id, so it is read
        lake.ingest_text(77, BOOK_V1, TS2)
        log = os.path.join(lake.lake_root, "_delta_log")
        last = max(f for f in os.listdir(log) if f.endswith(".json"))
        actions = [
            json.loads(ln)
            for ln in open(os.path.join(log, last), encoding="utf-8")
            if ln.strip()
        ]
        for a in actions:
            if "add" in a:
                del a["add"]["stats"]
        with open(os.path.join(log, last), "w", encoding="utf-8") as fh:
            fh.write("".join(json.dumps(a) + "\n" for a in actions))
        _assert_answers_match_spark_scan(lake, misses + [5, 11, 76, 78])


@pytest.mark.parametrize("backend", ["delta", "iceberg"])
def test_metadata_answers_keep_read_checks(spark, tmp_path, book_dir, backend):
    """The metadata path and the change feed (``read_delta_changes`` /
    ``read_iceberg_incremental``) refuse what the Spark read refuses: a
    partition value the file's hive path contradicts, here in a commit
    after the feed's cursor."""
    import json
    import os

    from tests.conftest import BOOK_V1

    lake = LakeAdapter(spark, str(tmp_path / f"clake_{backend}"), backend=backend)
    lake.ingest_files(sorted(str(p) for p in book_dir.iterdir()), TS)
    pos = lake.log_position()
    lake.ingest_text(44, BOOK_V1, TS2)
    # the newest commit's files get a partition their paths contradict
    if backend == "delta":
        log = os.path.join(
            lake.lake_root, "_delta_log", f"{lake.log_position():020d}.json"
        )
        actions = [
            json.loads(ln) for ln in open(log, encoding="utf-8") if ln.strip()
        ]
        for a in actions:
            if "add" in a:
                a["add"]["partitionValues"]["ingest_hour"] = "15"
        with open(log, "w", encoding="utf-8") as fh:
            fh.write("".join(json.dumps(a) + "\n" for a in actions))
    else:
        from tscd_datalake_adapter_spark.sources import avro_lite
        from tscd_datalake_adapter_spark.sources.iceberg_lite import (
            _snapshot_by_id,
            load_metadata,
        )

        meta = load_metadata(lake.lake_root)
        snap = _snapshot_by_id(meta, meta["current-snapshot-id"])
        _, manifests = avro_lite.read_container(snap["manifest-list"])
        newest = max(manifests, key=lambda m: m["sequence_number"])
        schema, entries = avro_lite.read_container(newest["manifest_path"])
        corrupt = []
        for e in entries:  # the parsed entries are shared: copy, then edit
            part = dict(e["data_file"]["partition"])
            part["ingest_ts_hour"] += 1
            corrupt.append(
                {**e, "data_file": {**e["data_file"], "partition": part}}
            )
        avro_lite.write_container(newest["manifest_path"], schema, corrupt)
    for call in (
        lake.read,
        lambda: lake.exists(11),
        lake.list_books,
        lambda: lake.books_ingested_since(pos),
    ):
        with pytest.raises(ValueError, match="partition mismatch"):
            call()


def _job_ids(spark, thunk) -> list[int]:
    """Ids of the Spark jobs ``thunk`` starts, read from ``statusTracker``
    under a fresh job group after the listener bus drained."""
    import uuid

    sc = spark.sparkContext
    group = f"job-probe-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "lake call")
    try:
        thunk()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return list(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("backend", ["delta", "iceberg"])
def test_status_and_list_start_no_spark_job(spark, tmp_path, book_dir, backend):
    """Structure pin, not timing: ``IngestApi.status`` (hit and miss) and
    ``IngestApi.list`` start no Spark job on the table-format backends,
    and neither does opening ``read``, ``read_latest`` or ``read_as_of``
    (the frame is built from the metadata's schema; no action runs)."""
    from tests.conftest import BOOK_V1

    lake = LakeAdapter(spark, str(tmp_path / f"zlake_{backend}"), backend=backend)
    api = IngestApi(lake)
    lake.ingest_files(sorted(str(p) for p in book_dir.iterdir()), TS)
    raw = spark.createDataFrame(
        [(1, BOOK_V1), (5, BOOK_V1)], "book_id long, raw string"
    )
    lake.ingest_raw_df(raw, TS2)  # one multi-id file: misses in 1..5 read it
    assert _job_ids(spark, lambda: lake.read().count())  # the probe sees jobs
    assert _job_ids(spark, lambda: api.status(22)["status"] == "available") == []
    assert _job_ids(spark, lambda: api.status(3)) == []
    assert _job_ids(spark, lambda: api.status(999)) == []
    assert _job_ids(spark, api.list) == []
    assert _job_ids(spark, lake.read) == []
    assert _job_ids(spark, lake.read_latest) == []
    assert _job_ids(spark, lambda: lake.read_as_of(TS)) == []
    assert _job_ids(spark, lambda: lake.read_as_of(TS2)) == []
    assert api.status(22)["status"] == "available"
    assert api.status(3)["status"] == "not_found"
    assert api.list()["books"] == [1, 5, 11, 22, 33]


def test_iceberg_read_over_position_deletes_starts_no_spark_job(
    spark, tmp_path, book_dir
):
    """Opening ``read_iceberg`` over a pending merge-on-read delete starts
    no Spark job: the position-delete files are read with the spec's
    ``(file_path string, pos long)`` schema, which is what
    ``delete_iceberg`` writes, instead of inferring it from a footer."""
    import pyarrow.parquet as pq

    from tscd_datalake_adapter_spark.sources.iceberg_lite import (
        _live_delete_files,
        delete_iceberg,
        load_metadata,
        read_iceberg,
    )

    lake = LakeAdapter(spark, str(tmp_path / "dlake_iceberg"), backend="iceberg")
    lake.ingest_files(sorted(str(p) for p in book_dir.iterdir()), TS)
    res = delete_iceberg(
        spark, lake.lake_root, "book_id = 22", strategy="merge-on-read"
    )
    assert res["delete_files"] == 1
    [dfile] = _live_delete_files(load_metadata(lake.lake_root))
    written = pq.read_schema(dfile["file_path"])
    assert [(f.name, str(f.type)) for f in written] == [
        ("file_path", "string"),
        ("pos", "int64"),
    ]
    assert _job_ids(spark, lambda: read_iceberg(spark, lake.lake_root)) == []
    assert sorted(r.book_id for r in lake.read().collect()) == [11, 33]


UPDATE_SCHEMA = "book_id long, header string, body string"
TS_A = dt.datetime(2026, 8, 13, 14, 30, 0)
TS_B = dt.datetime(2026, 8, 13, 15, 0, 0)
TS_D = dt.datetime(2026, 8, 12, 7, 0, 0)
TS3 = dt.datetime(2026, 8, 15, 10, 0, 0)


def _merge_fixture_lake(spark, root, backend) -> LakeAdapter:
    """Multi-row bulk files in three partitions (one per bulk ingest),
    single-row ingests, id 2 in two partitions, and a partition (TS_D)
    holding only ids 55 and 56."""
    from tests.conftest import BOOK_UNICODE, BOOK_V1, BOOK_V2

    lake = LakeAdapter(spark, root, backend=backend)
    texts = (BOOK_V1, BOOK_V2, BOOK_UNICODE)
    bulks = ((TS_A, (1, 2, 5, 8)), (TS_B, (20, 21, 30)), (TS2, (40, 45, 50)))
    for ts, ids in bulks:
        raw = spark.createDataFrame(
            [(b, texts[b % 3]) for b in ids], "book_id long, raw string"
        ).coalesce(1)
        assert lake.ingest_raw_df(raw, ts) == 0
    for bid, ts in ((11, TS_A), (2, TS2), (33, TS2), (55, TS_D), (56, TS_D)):
        lake.ingest_text(bid, texts[bid % 3], ts)
    return lake


def _live_paths(lake) -> dict[str, set[int]]:
    """Every live data file (normalized path) with the ids it holds,
    read from the format's live-file list and each file's parquet."""
    import os

    import pyarrow.parquet as pq

    if lake.backend == "delta":
        from tscd_datalake_adapter_spark.sources.delta_lite import live_files
    else:
        from tscd_datalake_adapter_spark.sources.iceberg_lite import live_files
    return {
        os.path.normpath(f["path"]): set(
            pq.read_table(f["path"], columns=["book_id"])
            .column("book_id")
            .to_pylist()
        )
        for f in live_files(lake.lake_root)
    }


@pytest.mark.parametrize("case", ["updates", "empty"])
@pytest.mark.parametrize("backend", ["delta", "iceberg"])
def test_merge_books_matches_python_model(spark, tmp_path, backend, case):
    """Differential check of the file-scoped merge: the lake after
    ``merge_books`` equals the merge computed in Python from the
    pre-merge rows, the commit removes exactly the files that held an
    updated id (delta: the log's remove actions; iceberg: the new
    manifest carries every other file as EXISTING), and a partition
    whose every row was updated is physically gone."""
    import json
    import os

    root = str(tmp_path / f"m lake {backend}")
    lake = _merge_fixture_lake(spark, root, backend)
    cols = [f.name for f in BOOK_SCHEMA.fields]
    before = [tuple(r[c] for c in cols) for r in lake.read().collect()]
    live_before = _live_paths(lake)
    # 2: a multi-row file and a single-row file in two partitions;
    # 21: a multi-row file; 55, 56: their whole partition; 44: a new id
    # inside the range of the multi-row (40, 45, 50) file
    upd = (
        [(b, f"h{b}", f"merged {b}") for b in (2, 21, 55, 56, 44)]
        if case == "updates"
        else []
    )
    ids = {b for b, _, _ in upd}
    lake.merge_books(spark.createDataFrame(upd, UPDATE_SCHEMA), TS3)

    day, hour = TS3.strftime("%Y%m%d"), TS3.strftime("%H")
    expected = sorted(
        [r for r in before if r[0] not in ids]
        + [(b, h, body, TS3, day, hour) for b, h, body in upd]
    )
    after = sorted(tuple(r[c] for c in cols) for r in lake.read().collect())
    assert after == expected

    holding = {p for p, held in live_before.items() if held & ids}
    assert len(holding) == (5 if case == "updates" else 0)
    live_after = _live_paths(lake)
    assert set(live_before) - set(live_after) == holding
    if backend == "delta":
        log = os.path.join(lake.lake_root, "_delta_log")
        last = max(f for f in os.listdir(log) if f.endswith(".json"))
        with open(os.path.join(log, last), encoding="utf-8") as fh:
            actions = [json.loads(ln) for ln in fh if ln.strip()]
        ops = [a["commitInfo"]["operation"] for a in actions if "commitInfo" in a]
        assert ops == ["MERGE"]
        removed = {
            os.path.normpath(os.path.join(lake.lake_root, a["remove"]["path"]))
            for a in actions
            if "remove" in a
        }
        assert removed == holding
    else:
        from tscd_datalake_adapter_spark.sources import avro_lite
        from tscd_datalake_adapter_spark.sources.iceberg_lite import (
            _snapshot_by_id,
            load_metadata,
        )

        meta = load_metadata(lake.lake_root)
        snap = _snapshot_by_id(meta, meta["current-snapshot-id"])
        assert snap["summary"]["operation"] == "MERGE"
        _, manifests = avro_lite.read_container(snap["manifest-list"])
        status = {}
        for m in manifests:
            for e in avro_lite.read_container(m["manifest_path"])[1]:
                fp = os.path.normpath(e["data_file"]["file_path"])
                status[fp] = e["status"]
        # 0 = EXISTING (carried unread), 1 = ADDED
        carried = {p for p, s in status.items() if s == 0}
        added = {p for p, s in status.items() if s == 1}
        assert carried == set(live_before) - holding
        assert not added & set(live_before)

    part_d = (
        ("ingest_date=20260812", "ingest_hour=07")
        if backend == "delta"
        else ("data", "ingest_ts_day=2026-08-12", "ingest_ts_hour=2026-08-12-07")
    )
    part_d_left = os.path.isdir(os.path.join(lake.lake_root, *part_d))
    assert part_d_left == (case == "empty")


@pytest.mark.parametrize("backend", ["delta", "iceberg"])
def test_merge_books_job_count_and_cache_state(spark, tmp_path, backend):
    """Structure pins: ``merge_books`` on a Python-list update frame
    whose updates fit in one input split runs on the driver and starts
    at most 2 Spark jobs (collect the ids and sizes, collect the update
    rows); an uncached frame leaves no persisted RDD behind, also when
    the merge raises, and a frame the caller cached stays cached."""
    from pyspark import StorageLevel

    lake = _merge_fixture_lake(spark, str(tmp_path / f"j_{backend}"), backend)
    persisted = len(spark.sparkContext._jsc.getPersistentRDDs())
    updates = spark.createDataFrame(
        [(2, "h", "b"), (21, "h", "b"), (44, "h", "b")], UPDATE_SCHEMA
    )
    jobs = _job_ids(spark, lambda: lake.merge_books(updates, TS3))
    assert 0 < len(jobs) <= 2, jobs
    assert updates.storageLevel == StorageLevel.NONE
    assert len(spark.sparkContext._jsc.getPersistentRDDs()) == persisted

    cached = spark.createDataFrame(
        [(55, "h", "b"), (99, "h", "b")], UPDATE_SCHEMA
    ).cache()
    try:
        assert cached.count() == 2
        lake.merge_books(cached, TS3 + dt.timedelta(hours=1))
        assert cached.storageLevel != StorageLevel.NONE
    finally:
        cached.unpersist()
    assert lake.list_books() == [
        1, 2, 5, 8, 11, 20, 21, 30, 33, 40, 44, 45, 50, 55, 56, 99
    ]

    # a null id is refused before anything is written, cache released
    with pytest.raises(InvalidBookId, match="null book_id"):
        lake.merge_books(
            spark.createDataFrame([(None, "h", "b")], UPDATE_SCHEMA), TS3
        )
    assert len(spark.sparkContext._jsc.getPersistentRDDs()) == persisted
    assert lake.list_books()[-1] == 99


def test_merge_books_refuses_live_position_deletes(spark, tmp_path):
    """Iceberg: a merge over pending merge-on-read deletes raises the
    partial-overwrite ValueError and leaves the lake as it was."""
    from tscd_datalake_adapter_spark.sources.iceberg_lite import delete_iceberg

    lake = _merge_fixture_lake(spark, str(tmp_path / "p_iceberg"), "iceberg")
    res = delete_iceberg(
        spark, lake.lake_root, "book_id = 45", strategy="merge-on-read"
    )
    assert res["delete_files"] == 1
    before = sorted(lake.read().collect())
    updates = spark.createDataFrame(
        [(2, "h", "b"), (40, "h", "b")], UPDATE_SCHEMA
    )
    with pytest.raises(ValueError, match="live position-delete files"):
        lake.merge_books(updates, TS3)
    assert sorted(lake.read().collect()) == before


def _rows(lake) -> list[tuple]:
    cols = [f.name for f in BOOK_SCHEMA.fields]
    return sorted(tuple(r[c] for c in cols) for r in lake.read().collect())


def _parquet_on_disk(root) -> set[str]:
    import glob

    return set(glob.glob(f"{root}/**/*.parquet", recursive=True))


@pytest.mark.parametrize("path", ["driver", "spark"])
@pytest.mark.parametrize("backend", ["delta", "iceberg"])
def test_rewrite_paths_agree(spark, tmp_path, backend, path):
    """``merge_books`` leaves the same lake whether it rewrites on the
    driver or in Spark (selected here by shrinking the session's input
    split, ``spark.sql.files.maxPartitionBytes``, to 1k, below the
    updates' 1.5 KB), and the driver-side ``compact`` reads what either
    path wrote: the rows
    ``read()`` returns, ``list_books()``, the operations ``history()``
    records and ``compact``'s counts all equal one Python model. The
    first compaction's partition mixes a Spark-written file
    (``ingest_ts`` stored as INT96) with a pyarrow-written one; on the
    Spark path the second one compacts the Spark-written merge output.
    ``compact`` starts no Spark job on either path; ``merge_books``
    starts at most 2 on the driver path and 3 on the Spark path.
    On iceberg a row deleted merge-on-read stays gone: ``compact``
    refuses while the delete is pending, before writing any file, and
    after ``materialize_deletes`` compacts without it."""
    from tests.conftest import BOOK_V1
    from tscd_datalake_adapter_spark.lake.gutenberg import split_book

    lake = _merge_fixture_lake(spark, str(tmp_path / f"r {path}"), backend)
    model = _rows(lake)
    ops = ["INGEST"] * 8
    key = "spark.sql.files.maxPartitionBytes"
    split = spark.conf.get(key)
    if path == "spark":
        spark.conf.set(key, "1k")
    try:
        counts = []

        def compact(day, hour, k=1):
            jobs = _job_ids(
                spark, lambda: counts.append(lake.compact(day, hour, k))
            )
            assert not jobs, jobs
            ops.append("OPTIMIZE")

        # a Spark-written bulk file (1, 2, 5, 8) and a pyarrow-written
        # single ingest (11)
        compact("20260813", "14")
        assert _rows(lake) == model

        # 1.5 KB of updates: above the shrunk split, within the default
        upd = [(b, f"h{b}", f"merged {b} " + "x" * 300) for b in (2, 21, 44, 55, 56)]
        jobs = _job_ids(
            spark,
            lambda: lake.merge_books(
                spark.createDataFrame(upd, UPDATE_SCHEMA), TS3
            ),
        )
        # the Spark path's broadcast and write jobs show it was taken
        if path == "driver":
            assert 0 < len(jobs) <= 2, jobs
        else:
            assert len(jobs) == 3, jobs
        ops.append("MERGE")
        day, hour = TS3.strftime("%Y%m%d"), TS3.strftime("%H")
        model = sorted(
            [r for r in model if r[0] not in {b for b, _, _ in upd}]
            + [(b, h, body, TS3, day, hour) for b, h, body in upd]
        )
        lake.ingest_text(77, BOOK_V1, TS3)
        ops.append("INGEST")
        book = split_book(BOOK_V1)
        model = sorted(model + [(77, book.header, book.body, TS3, day, hour)])
        compact(day, hour, 2)

        assert _rows(lake) == model
        assert lake.list_books() == sorted({r[0] for r in model})
        assert counts == [5, 6]
        history = [h["operation"] for h in lake.history()]
        # iceberg's purge expires every snapshot but the newest
        assert history == (ops if backend == "delta" else ops[-1:])

        if backend == "iceberg":
            from tscd_datalake_adapter_spark.sources.iceberg_lite import (
                delete_iceberg,
                materialize_deletes,
            )

            res = delete_iceberg(
                spark, lake.lake_root, "book_id = 45", strategy="merge-on-read"
            )
            assert res["deleted_rows"] == 1
            model = [r for r in model if r[0] != 45]
            on_disk = _parquet_on_disk(lake.lake_root)
            with pytest.raises(ValueError, match="live position-delete files"):
                lake.compact("20260814", "09")
            assert _parquet_on_disk(lake.lake_root) == on_disk
            assert _rows(lake) == model
            materialize_deletes(spark, lake.lake_root)
            compact("20260814", "09")
            assert counts[-1] == 3  # 40, 50 and the single ingest 33
            assert _rows(lake) == model
    finally:
        spark.conf.set(key, split)


@pytest.mark.parametrize("backend", ["delta", "iceberg"])
def test_live_files_size_is_file_size(spark, tmp_path, backend):
    """``live_files`` reports each live file's byte size from the
    metadata (delta ``add.size``, iceberg ``file_size_in_bytes``): it
    equals the size on disk, for Spark-written and pyarrow-written
    files alike."""
    import os

    if backend == "delta":
        from tscd_datalake_adapter_spark.sources.delta_lite import live_files
    else:
        from tscd_datalake_adapter_spark.sources.iceberg_lite import live_files

    lake = _merge_fixture_lake(spark, str(tmp_path / "s"), backend)
    lake.merge_books(
        spark.createDataFrame([(2, "h", "b"), (44, "h", "b")], UPDATE_SCHEMA),
        TS3,
    )
    lake.compact("20260813", "14")
    files = live_files(lake.lake_root)
    assert len(files) > 1
    for f in files:
        assert f["size"] == os.path.getsize(f["path"]), f["path"]


def test_refused_table_reports_unsupported_table(spark, tmp_path, book_dir):
    """A table the reader refuses (a delta log that requires reader
    version 3) is reported as ``unsupported_table``, with the reader's
    message, by ``status``, ``list`` and ``delete`` alike."""
    import json
    import os

    lake = LakeAdapter(spark, str(tmp_path / "v3"))
    lake.ingest_files(sorted(str(p) for p in book_dir.iterdir()), TS)
    log0 = os.path.join(lake.lake_root, "_delta_log", f"{0:020d}.json")
    actions = [json.loads(ln) for ln in open(log0, encoding="utf-8") if ln.strip()]
    for a in actions:
        if "protocol" in a:
            a["protocol"]["minReaderVersion"] = 3
    with open(log0, "w", encoding="utf-8") as fh:
        fh.write("".join(json.dumps(a) + "\n" for a in actions))
    api = IngestApi(lake)
    for res in (api.status(11), api.list(), api.delete(11)):
        assert res["error"]["code"] == "unsupported_table", res
        assert "minReaderVersion 3" in res["error"]["message"], res


def test_row_groups_pack_small_tables_up_to_the_largest():
    """The driver writer's row groups keep the input rows in order, drop
    empty tables, let consecutive small tables share a row group, and
    never outgrow the largest table read so far."""
    import pyarrow as pa

    from tscd_datalake_adapter_spark.lake.adapter import _row_groups

    shapes = ((10, 1000), (1, 10), (1, 10), (0, 1), (5, 1000), (20, 1000), (1, 5))
    tables = [
        pa.table({"v": pa.array([str(i) * width] * rows, pa.string())})
        for i, (rows, width) in enumerate(shapes)
    ]
    groups = list(_row_groups(tables))
    assert [g.num_rows for g in groups] == [10, 7, 20, 1]
    assert pa.concat_tables(groups).equals(pa.concat_tables(tables))
    assert max(g.nbytes for g in groups) == max(t.nbytes for t in tables)


@pytest.mark.parametrize("backend", ["delta", "iceberg"])
def test_rewrite_reads_one_row_group_at_a_time(spark, tmp_path, backend):
    """The driver-side rewrites read a live file as one BOOK_SCHEMA
    arrow table per row group, never the whole file: ``ingest_ts``
    stored as INT96 (as Spark writes it) comes back at microseconds and
    delta's partition columns come back from the logged
    partitionValues."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from tscd_datalake_adapter_spark.lake.adapter import _arrow_book_schema

    lake = LakeAdapter(spark, str(tmp_path / "rg"), backend=backend)
    schema = _arrow_book_schema()
    rows = pa.table(
        {
            "book_id": list(range(1, 6)),
            "header": [f"h{i}" for i in range(1, 6)],
            "body": [f"b{i}" for i in range(1, 6)],
            "ingest_ts": [TS] * 5,
            "ingest_date": ["20260813"] * 5,
            "ingest_hour": ["14"] * 5,
        },
        schema=schema,
    )
    path = str(tmp_path / "in.parquet")
    pq.write_table(
        rows.select(lake._file_columns()),
        path,
        row_group_size=2,
        use_deprecated_int96_timestamps=True,
    )
    assert pq.ParquetFile(path).schema.column(3).physical_type == "INT96"
    partition = {"ingest_date": "20260813", "ingest_hour": "14"}
    tables = list(lake._read_book_row_groups({"path": path, "partition": partition}))
    assert [t.num_rows for t in tables] == [2, 2, 1]
    assert all(t.schema == schema for t in tables)
    assert pa.concat_tables(tables).equals(rows)


@pytest.mark.parametrize("backend", ["delta", "iceberg"])
def test_compact_splits_runs_by_logged_bytes(spark, tmp_path, backend):
    """``compact(target_files=k)`` writes each consecutive run of about
    a k-th of the partition's logged bytes into one file: a large bulk
    file keeps a file of its own instead of sharing one with every
    other small single-ingest file."""
    from tests.conftest import BOOK_V2

    lake = LakeAdapter(spark, str(tmp_path / "k"), backend=backend)
    big = (
        "Header\n*** START OF THE PROJECT GUTENBERG EBOOK X ***\n"
        + "word " * 800
        + "\n*** END OF THE PROJECT GUTENBERG EBOOK X ***\n"
    )
    raw = spark.createDataFrame(
        [(b, big) for b in range(1, 7)], "book_id long, raw string"
    ).coalesce(1)
    assert lake.ingest_raw_df(raw, TS) == 0
    for bid in (7, 8, 9):
        lake.ingest_text(bid, BOOK_V2, TS)
    day, hour = TS.strftime("%Y%m%d"), TS.strftime("%H")
    assert lake.compact(day, hour, target_files=2) == 9
    counts = sorted(f["record_count"] for f in lake._live_files())
    assert counts == [3, 6]
