"""The parse cache of write-once table-metadata files (``sources.write_once``):
a cached value is reused only while its file's bytes are unchanged, no
caller writes into a shared value, and the cache stays inside its byte
bound."""

from __future__ import annotations

import datetime as dt
import os
import shutil
import sys
import threading

import pytest

from tscd_datalake_adapter_spark.lake import LakeAdapter
from tscd_datalake_adapter_spark.lake.api import IngestApi
from tscd_datalake_adapter_spark.sources import write_once

pytestmark = pytest.mark.smoke

TS = dt.datetime(2026, 8, 13, 14, 0, 0)
TS_MERGE = dt.datetime(2026, 8, 13, 16, 0, 0)


@pytest.fixture(autouse=True)
def _empty_cache():
    write_once.clear()
    yield
    write_once.clear()


def _live_files(lake):
    if lake.backend == "delta":
        from tscd_datalake_adapter_spark.sources.delta_lite import live_files
    else:
        from tscd_datalake_adapter_spark.sources.iceberg_lite import live_files
    return live_files(lake.lake_root)


def _answers(lake):
    return _live_files(lake), lake.list_books(), lake.history()


def _ingest(lake, ids, ts=TS):
    from tests.conftest import BOOK_V1

    for bid in ids:
        assert lake.ingest_text(bid, BOOK_V1, ts)["status"] == "ingested"


@pytest.mark.parametrize("backend", ["delta", "iceberg"])
def test_cached_values_equal_fresh_parses_after_a_lifecycle(
    spark, tmp_path, backend
):
    """Bulk ingest, single ingests past a delta checkpoint, merge,
    compact, erase and vacuum, with status and list between the steps:
    afterwards every cached value still equals a fresh parse of the bytes
    it was parsed from (no caller wrote into a shared value), and the
    live files, the book list and the history equal their answers
    with the cache cleared."""
    from tests.conftest import BOOK_V1, BOOK_V2

    lake = LakeAdapter(
        spark, str(tmp_path / f"life {backend}"), backend=backend,
        checkpoint_every=4,
    )
    api = IngestApi(lake)
    raw = spark.createDataFrame(
        [(b, BOOK_V2) for b in (1, 2, 3, 4)], "book_id long, raw string"
    ).coalesce(1)
    assert lake.ingest_raw_df(raw, TS) == 0
    for bid in (11, 12, 13, 14, 15):
        _ingest(lake, [bid])
        assert api.status(bid)["status"] == "available"
        assert api.list()["books"] == lake.list_books()
    if backend == "delta":
        log = os.path.join(lake.lake_root, "_delta_log")
        assert os.path.exists(os.path.join(log, f"{4:020d}.checkpoint.parquet"))
    updates = spark.createDataFrame(
        [(2, "h2", "merged 2"), (12, "h12", "merged 12")],
        "book_id long, header string, body string",
    )
    lake.merge_books(updates, TS_MERGE)
    api.list()
    assert lake.compact(TS.strftime("%Y%m%d"), TS.strftime("%H")) == 7
    api.status(3)
    assert lake.erase_book(13, physical=True)["deleted_rows"] == 1
    lake.vacuum()
    _ingest(lake, [16])
    answers = _answers(lake)
    assert answers[1] == [1, 2, 3, 4, 11, 12, 14, 15, 16]

    entries = list(write_once._entries.items())
    kinds = {parse.__name__ for (_, parse), _ in entries}
    want = (
        {"_parse_commit", "_parse_checkpoint"}
        if backend == "delta"
        else {"_decode_container"}
    )
    assert kinds == want
    for (path, parse), (data, value) in entries:
        assert value == parse(data), path
        if os.path.exists(path):
            with open(path, "rb") as f:
                assert f.read() == data, path

    write_once.clear()
    assert _answers(lake) == answers


def _edit_in_place(path: str, old: bytes, new: bytes) -> None:
    """Overwrite the last ``old`` in ``path`` with ``new`` (same length)
    without changing its inode, size or mtime, as a writer within one
    mtime tick would."""
    assert len(old) == len(new)
    st = os.stat(path)
    with open(path, "rb") as f:
        data = f.read()
    at = data.rindex(old)
    with open(path, "r+b") as f:
        f.seek(at)
        f.write(new)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns))
    after = os.stat(path)
    assert (after.st_ino, after.st_size, after.st_mtime_ns) == (
        st.st_ino, st.st_size, st.st_mtime_ns,
    )


@pytest.mark.parametrize("backend", ["delta", "iceberg"])
def test_a_cached_file_edited_in_place_is_seen_at_once(
    spark, tmp_path, backend
):
    """A cached metadata file edited in place to the same length, with
    its inode and mtime unchanged, is read afresh by the next request:
    delta's commit 0 now requires reader version 3, so ``status``
    reports ``unsupported_table``; the last byte of iceberg's manifest
    (its trailing sync marker) is corrupted, so ``status`` fails."""
    lake = LakeAdapter(spark, str(tmp_path / "edit"), backend=backend)
    api = IngestApi(lake)
    _ingest(lake, [11, 22])
    assert api.status(11)["status"] == "available"
    if backend == "delta":
        log0 = os.path.join(lake.lake_root, "_delta_log", f"{0:020d}.json")
        _edit_in_place(log0, b'"minReaderVersion":1', b'"minReaderVersion":3')
        res = api.status(11)
        assert res["error"]["code"] == "unsupported_table", res
        assert "minReaderVersion 3" in res["error"]["message"], res
    else:
        from tscd_datalake_adapter_spark.sources import avro_lite
        from tscd_datalake_adapter_spark.sources.iceberg_lite import (
            _snapshot_by_id,
            load_metadata,
        )

        meta = load_metadata(lake.lake_root)
        snap = _snapshot_by_id(meta, meta["current-snapshot-id"])
        _, manifests = avro_lite.read_container(snap["manifest-list"])
        mpath = manifests[-1]["manifest_path"]
        with open(mpath, "rb") as f:
            last = f.read()[-1]
        _edit_in_place(mpath, bytes([last]), bytes([last ^ 0xFF]))
        with pytest.raises(ValueError, match="sync marker mismatch"):
            api.status(11)


@pytest.mark.parametrize("backend", ["delta", "iceberg"])
def test_a_table_recreated_at_the_same_path_reads_the_new_content(
    spark, tmp_path, backend
):
    """A table deleted and re-created at the same path with the same
    number of commits, whose metadata files carry the old files' mtimes,
    answers from the new content."""
    root = str(tmp_path / "again")
    lake = LakeAdapter(spark, root, backend=backend)
    _ingest(lake, [11, 22, 33])
    assert lake.list_books() == [11, 22, 33]
    meta_dir = os.path.join(root, "_delta_log" if backend == "delta" else "metadata")
    mtimes = {
        fn: os.stat(os.path.join(meta_dir, fn)).st_mtime_ns
        for fn in os.listdir(meta_dir)
    }
    shutil.rmtree(root)

    lake = LakeAdapter(spark, root, backend=backend)
    _ingest(lake, [44, 55, 66])
    for fn in os.listdir(meta_dir):
        if fn in mtimes:
            os.utime(os.path.join(meta_dir, fn), ns=(mtimes[fn], mtimes[fn]))
    assert lake.list_books() == [44, 55, 66]
    assert IngestApi(lake).status(11)["status"] == "not_found"


def test_the_byte_bound_evicts_least_recently_used(tmp_path, monkeypatch):
    """The cache holds at most ``_MAX_BYTES`` of file bytes: reading past
    the bound evicts the least recently used file, a file larger than the
    bound is never kept, and a hit refreshes recency."""
    parses: list[bytes] = []

    def parse(data: bytes) -> bytes:
        parses.append(data)
        return data

    monkeypatch.setattr(write_once, "_MAX_BYTES", 300)
    paths = []
    for i in range(4):
        p = tmp_path / f"f{i}"
        p.write_bytes(bytes([i]) * 100)
        paths.append(str(p))
    for p in paths[:3]:
        write_once.parsed(p, parse)
    write_once.parsed(paths[0], parse)  # a hit: f0 is now the newest
    assert len(parses) == 3
    write_once.parsed(paths[3], parse)  # evicts f1, the least recent
    assert write_once._size == 300
    assert [k[0] for k in write_once._entries] == [paths[2], paths[0], paths[3]]
    write_once.parsed(paths[1], parse)
    assert len(parses) == 5

    big = tmp_path / "big"
    big.write_bytes(b"x" * 301)
    write_once.parsed(str(big), parse)
    assert str(big) not in {k[0] for k in write_once._entries}
    assert write_once._size <= 300


def test_concurrent_readers_keep_the_size_account(tmp_path, monkeypatch):
    """Threads parsing overlapping files under a small bound never lose
    an update to the byte account: it equals the bytes held and stays
    within the bound."""
    monkeypatch.setattr(write_once, "_MAX_BYTES", 1000)
    content = {}
    for i in range(24):
        p = tmp_path / f"c{i}"
        p.write_bytes(bytes([i]) * (40 + i))
        content[str(p)] = p.read_bytes()
    paths = list(content)
    errors: list[Exception] = []

    def reader(k: int) -> None:
        try:
            for j in range(400):
                p = paths[(k * 7 + j) % len(paths)]
                assert write_once.parsed(p, bytes) == content[p]
        except Exception as exc:  # noqa: BLE001 - asserted after the join
            errors.append(exc)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=reader, args=(k,)) for k in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors[0]
    held = sum(len(data) for data, _ in write_once._entries.values())
    assert write_once._size == held <= 1000
