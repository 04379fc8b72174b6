"""Lakehouse adapter — reference R1, R4, R5, R6, R7.

The reference stores each ingested book as two text objects under
``{prefix}datalake/{yyyyMMdd}/{HH}/{id}.{part}.txt`` (``S3DatalakeStorage
.java:145-150``) and answers ``exists``/``listBooks`` with O(total-objects)
paginated key scans (``S3DatalakeStorage.java:64-119``). Here the lake is a
table in one of two open formats, both implemented in-repo from their
public specs: ``backend="delta"`` (the default) keeps a
``sources.delta_lite`` transaction log over Hive-partitioned parquet

    <root>/ingest_date=<yyyyMMdd>/ingest_hour=<HH>/part-*.parquet

and ``backend="iceberg"`` keeps ``sources.iceberg_lite`` snapshots and
Avro manifests over ``<root>/data/``, partitioned by ``day(ingest_ts)``
and ``hour(ingest_ts)``. Either way the table holds one row per book:
``(book_id, header, body, ingest_ts, ingest_date, ingest_hour)``. Every
write is a logged commit, reads replay the log (stray or half-written
files are invisible), ``read_as_of`` is log time travel, and MERGE
physically drops fully superseded partitions. Differences from the
reference, all deliberate (SURVEY.md §1.1):

- UTC partition values (the reference uses server-local wall clock,
  ``Main.java:105``).
- No accidental ``datalakedatalake/`` double prefix
  (``S3DatalakeStorage.java:146``).
- The header+body pair is committed atomically (one row, one log
  commit) — the reference's two sequential putObject calls can leave a
  body-only book visible (SURVEY.md §3.1 step 7).

Scale notes (100 TB): the write path appends and never lists the whole lake
(a commit lists only its own staged files). ``exists`` and ``list_books``
start no Spark job: they replay the table format's metadata (log or
manifests: bytes per file, bounded by checkpoints) and read, driver-side
with pyarrow, only the ``book_id`` column of the files whose per-file
stats cannot settle the answer. Every request re-reads the metadata
bytes, but each write-once file (a delta commit or checkpoint part, an
iceberg manifest or manifest list) is parsed once per process and reused
while its bytes are unchanged (``sources.write_once``), so between
commits a request decodes no metadata. ``exists`` costs that metadata read plus
the column of the files whose ``book_id`` range covers the id;
``list_books``' work on the Spark driver grows with its result, which was
always collected there. ``merge_books`` plans from the same metadata: it
collects the update ids with each update's byte size (the id set its
broadcast anti-join holds on the driver anyway), chooses the files that
hold one of them as ``exists`` does, and rewrites only those files; its
read and write grow with the touched files and the updates, not with the
touched partitions. ``compact`` chooses its partition's files from the
same metadata.

Where the rewrite runs: ``compact`` always rewrites on the driver, and
``merge_books`` does when its updates hold at most one input split
(``spark.sql.files.maxPartitionBytes``, in ``octet_length`` bytes of
header plus body). pyarrow reads the rewritten files one row group at a
time and writes the new files, and the format's metadata-only commit
publishes them, so the driver holds about two row groups (Spark's writer
bounds one by ``parquet.block.size``) plus, for a merge, the updates.
``compact`` starts no Spark job and ``merge_books`` two (the update ids,
the update rows), where a Spark rewrite pays a scheduled job per call.
On 4 cores the driver rewrite was as fast or faster above the split too:
on a 176 MB partition of four files, ``compact`` took 0.6-1.1 s on the
driver against 0.7-3.2 s in Spark, and a merge of a tenth of its ids
1.0-1.9 s against 1.4-2.4 s. Updates above one split merge in Spark
(ids, broadcast, write: three jobs), so that they are never collected
to the driver.

Every Spark read of the lake's data files, a whole-lake ``read`` and the
Spark merge's read of the touched files alike, goes through
``delta_lite.read_data_files``: the files are the metadata's records,
read with the table's schema (never inferred, so building the frame
starts no job) after each file's partition is checked against its hive
path.
"""

from __future__ import annotations

import datetime as dt
import os
from collections.abc import Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tscd_datalake_adapter_spark.lake.gutenberg import gutenberg_url, split_book

BOOK_SCHEMA = T.StructType(
    [
        T.StructField("book_id", T.LongType(), False),
        T.StructField("header", T.StringType(), True),
        T.StructField("body", T.StringType(), True),
        T.StructField("ingest_ts", T.TimestampType(), False),
        T.StructField("ingest_date", T.StringType(), False),
        T.StructField("ingest_hour", T.StringType(), False),
    ]
)

RAW_SCHEMA = T.StructType(
    [
        T.StructField("book_id", T.LongType(), False),
        T.StructField("raw", T.StringType(), True),
    ]
)


class InvalidBookId(ValueError):
    """Reference error code ``invalid_book_id`` (``Main.java:147-160``)."""


class IngestFailed(RuntimeError):
    """Reference error code ``download_failed`` (``Main.java:100-103``)."""


def validate_book_id(book_id: object) -> int:
    """Positive-int validation, semantics of ``Main.java:147-160``."""
    try:
        v = int(str(book_id))
    except (TypeError, ValueError) as exc:
        raise InvalidBookId(f"book_id must be an integer: {book_id!r}") from exc
    if v <= 0:
        raise InvalidBookId(f"book_id must be > 0: {v}")
    return v


def naive_utc(ts: dt.datetime) -> dt.datetime:
    """Normalize to naive UTC — the lake's single timestamp convention.

    Partition values AND the stored ``ingest_ts`` both use this, so a
    tz-aware ingest timestamp and a tz-aware ``read_as_of`` cutoff land on
    the same clock; a naive input is taken as already-UTC."""
    if ts.tzinfo is not None:
        ts = ts.astimezone(dt.timezone.utc).replace(tzinfo=None)
    return ts


def partition_values(ts: dt.datetime) -> tuple[str, str]:
    """(yyyyMMdd, HH) partition values (``S3DatalakeStorage.java:21-22``), UTC."""
    ts = naive_utc(ts)
    return ts.strftime("%Y%m%d"), ts.strftime("%H")


# A parquet bloom filter on book_id for every Spark-written file: min/max
# row-group stats can't prune point lookups when ids are scattered across
# the insert order (every row group spans most of the id domain), but a
# bloom filter answers "id definitely absent" per row group regardless of
# layout — so a filtered read on book_id touches footer bytes, not data
# pages, for the no-hit case (the reference paid a full O(objects) key
# scan, S3DatalakeStorage.java:64-86). Files the driver writes (single
# ingests, compactions, merges of updates within one input split) carry
# none: pyarrow 16.1 cannot write a bloom filter. ``exists``,
# ``list_books`` and ``merge_books`` choose files from the metadata and
# pyarrow column reads, which use no bloom filter either; a Spark read of
# the lake falls back to row-group stats for those files.
_BLOOM_OPTIONS = {
    "parquet.bloom.filter.enabled#book_id": "true",
    "parquet.bloom.filter.expected.ndv#book_id": "100000",
}

_PARTITION_COLS = ("ingest_date", "ingest_hour")

# iceberg backend (r10, verdict item 3): NATIVE temporal transforms on
# the single ingest_ts column — the spec's layout for a time-partitioned
# lake — instead of pre-derived string partition columns.
# ingest_date/ingest_hour remain ordinary DATA columns (the row contract
# is backend-agnostic); only the partition SPEC differs:
# day(ingest_ts), hour(ingest_ts), hive dirs
# ingest_ts_day=2026-08-13/ingest_ts_hour=2026-08-13-14/.
_ICEBERG_TRANSFORMS = ("day(ingest_ts)", "hour(ingest_ts)")

_EPOCH_DAY = dt.date(1970, 1, 1)


def _transform_ordinals(day: str, hour: str) -> tuple[int, int]:
    """(day-ordinal, hour-ordinal) ints for the lake's (yyyyMMdd, HH)
    partition strings — the iceberg spec's transformed partition
    values (days / hours since 1970-01-01 UTC)."""
    d = dt.datetime.strptime(day, "%Y%m%d").date()
    day_ord = (d - _EPOCH_DAY).days
    return day_ord, day_ord * 24 + int(hour)


def _iceberg_parts(parts: list[dict]) -> list[dict]:
    """Adapter-surface partition dicts (ingest_date/ingest_hour strings)
    → transformed spec-field dicts for iceberg replace_partitions."""
    out = []
    for p in parts:
        day_ord, hour_ord = _transform_ordinals(
            p["ingest_date"], p["ingest_hour"]
        )
        out.append(
            {"ingest_ts_day": day_ord, "ingest_ts_hour": hour_ord}
        )
    return out


def _ts_ms(ts: dt.datetime) -> int:
    return int(
        naive_utc(ts).replace(tzinfo=dt.timezone.utc).timestamp() * 1000
    )


def _single_book_id(f: dict) -> int | None:
    """The id a live file provably holds and nothing else — at least one
    record, ``book_id`` min == max, no deleted positions — from its
    metadata alone; None when the file must be read."""
    st = f["stats"] or {}
    lo = st.get("minValues", {}).get("book_id")
    hi = st.get("maxValues", {}).get("book_id")
    if f["record_count"] and not f["deleted"] and lo is not None and lo == hi:
        return int(lo)
    return None


def _refuse_pending_deletes(live: list[dict]) -> None:
    """Raise before a driver-side rewrite writes anything while position
    deletes are pending on a live file (iceberg merge-on-read): the
    format's partial-overwrite commit refuses them, so it would only
    refuse later, after the new files were written."""
    if any(f["deleted"] for f in live):
        raise ValueError(
            "table has live position-delete files; run "
            "materialize_deletes() before partial-overwrite commits"
        )


def _file_book_ids(f: dict):
    """The ``book_id`` column of one live file (numpy, read driver-side
    with pyarrow), its deleted positions removed."""
    import numpy as np
    import pyarrow.parquet as pq

    ids = (
        pq.ParquetFile(f["path"])
        .read(columns=["book_id"])
        .column("book_id")
        .to_numpy()
    )
    return np.delete(ids, sorted(f["deleted"])) if f["deleted"] else ids


def _arrow_book_schema():
    """BOOK_SCHEMA in the arrow types the driver-side writer stores:
    ``ingest_ts`` naive at microseconds, the lake's UTC convention."""
    import pyarrow as pa

    return pa.schema(
        [
            ("book_id", pa.int64()),
            ("header", pa.string()),
            ("body", pa.string()),
            ("ingest_ts", pa.timestamp("us")),
            ("ingest_date", pa.string()),
            ("ingest_hour", pa.string()),
        ]
    )


def _row_groups(tables: Iterable) -> Iterator:
    """Consecutive non-empty arrow tables packed into row groups, each no
    larger than the largest table so far: the small files of single
    ingests share a row group instead of costing one each on every later
    read, and what is buffered never outgrows the biggest input the
    rewrite had to read anyway. A full row group is yielded before the
    next table is pulled, so a caller that drops each row group once it
    is written holds one at a time."""
    import pyarrow as pa

    buf, size, largest = [], 0, 0
    for t in tables:
        if not t.num_rows:
            continue
        largest = max(largest, t.nbytes)
        if buf and size + t.nbytes > largest:
            yield pa.concat_tables(buf)
            buf, size = [], 0
        buf.append(t)
        size += t.nbytes
        del t  # only the buffer holds it
        if size >= largest:  # no later table can join it
            yield pa.concat_tables(buf)
            buf, size = [], 0
    if buf:
        yield pa.concat_tables(buf)


def _with_new_rows(
    keep: DataFrame, updates: DataFrame, ts: dt.datetime
) -> DataFrame:
    """A merge's output: the kept rows plus the ``(book_id, header,
    body)`` updates stamped into the ``ts`` partition, in BOOK_SCHEMA
    column order."""
    day, hour = partition_values(ts)
    cols = [f.name for f in BOOK_SCHEMA.fields]
    new_rows = updates.select(
        "book_id",
        "header",
        "body",
        F.lit(naive_utc(ts)).cast("timestamp").alias("ingest_ts"),
        F.lit(day).alias("ingest_date"),
        F.lit(hour).alias("ingest_hour"),
    )
    return keep.select(*cols).unionByName(new_rows.select(*cols))


class LakeAdapter:
    """Spark-backed book lake with the reference's operation surface.

    ``backend="delta"`` (default) runs every operation through the
    ``sources.delta_lite`` transaction log; ``backend="iceberg"`` runs
    the same operations through the ``sources.iceberg_lite`` table
    format (snapshots + Avro manifests). The whole reference surface is
    format-agnostic behind this class."""

    def __init__(
        self,
        spark: SparkSession,
        lake_root: str,
        backend: str = "delta",
        checkpoint_every: int = 32,
    ):
        if backend not in ("delta", "iceberg"):
            raise ValueError(
                f"unsupported backend {backend!r}: use 'delta' or 'iceberg'"
            )
        self.spark = spark
        self.lake_root = lake_root
        self.backend = backend
        self.backend_label = f"spark-{backend}"
        # every single-book ingest is one log commit, so an ingest-heavy
        # lake would otherwise replay thousands of JSON files per read;
        # a classic checkpoint every N commits bounds replay to one
        # parquet footer + <N commits (log files are kept — time travel
        # is unaffected). 0 disables.
        self.checkpoint_every = checkpoint_every

    # -- format dispatch (delta / iceberg) ------------------------------------

    def _fmt_commit(
        self,
        data,
        ts_ms: int,
        operation: str,
        mode: str = "overwrite",
        purge: bool = False,
        parts: list[dict] | None = None,
        paths: list[str] | None = None,
        base: dict | None = None,
    ) -> None:
        """One logged commit whose caller timestamp is ``ts_ms``. ``data``
        is either a DataFrame, which the format's Spark writer writes
        (``write_delta`` / ``write_iceberg``, with the ``book_id`` bloom
        filter), or the ``(commit_uuid, rels, rows)`` that
        :meth:`_write_book_files` returned, committed metadata-only
        (``commit_files`` / ``commit_snapshot``) with the same arguments.

        ``mode="overwrite"`` replaces the files of the named ``parts``
        (partition dicts) or exactly the named live ``paths`` (absolute,
        as :meth:`_live_files` spells them). ``base`` is the delta log
        state the written files were chosen from
        (:meth:`_live_files_and_base`): the commit claims the version
        after it, so a commit that landed since collides instead of
        being absorbed. With ``purge`` the
        files referenced only by pre-commit versions are physically
        deleted (delta: targeted purge of this commit's tombstones;
        iceberg: snapshot expiry to the new snapshot). Delta writes a
        classic checkpoint every ``checkpoint_every`` versions."""
        from tscd_datalake_adapter_spark.sources import delta_lite, iceberg_lite

        if self.backend == "delta":
            fmt = delta_lite
            kw = {
                "partition_by": _PARTITION_COLS,
                "replace_partitions": parts,
                "replace_paths": None
                if paths is None
                else [os.path.relpath(p, self.lake_root) for p in paths],
            }
            write, commit = fmt.write_delta, fmt.commit_files
            if base is not None:
                kw["_state"] = base
        else:
            fmt = iceberg_lite
            kw = {
                "partition_transforms": _ICEBERG_TRANSFORMS,
                "replace_partitions": parts and _iceberg_parts(parts),
                "replace_paths": paths,
            }
            write, commit = fmt.write_iceberg, fmt.commit_snapshot
        kw.update(mode=mode, commit_timestamp_ms=ts_ms, operation=operation)
        if isinstance(data, DataFrame):
            version = write(
                data, self.lake_root, writer_options=_BLOOM_OPTIONS, **kw
            )
        else:
            commit_uuid, rels, _ = data
            version = commit(
                self.lake_root, rels, BOOK_SCHEMA, _commit_uuid=commit_uuid, **kw
            )
        if self.backend == "delta":
            if purge:
                fmt.purge_removed(self.lake_root, version)
            if self.checkpoint_every and version > 0 and (
                version % self.checkpoint_every == 0
            ):
                fmt.checkpoint_delta(self.lake_root)
        elif purge:
            # iceberg needs no checkpoint: metadata.json is already a
            # compact snapshot; its growth axis (the snapshot list) is
            # trimmed by vacuum()/expire_snapshots, the format's
            # maintenance
            fmt.expire_snapshots(self.lake_root, keep_last=1)

    def _split_bytes(self) -> int:
        """The session's input split size, ``spark.sql.files.
        maxPartitionBytes`` as SQLConf parses it: the most one Spark scan
        task reads, and the most a rewrite reads on the driver."""
        return int(
            self.spark._jsparkSession.sessionState()
            .conf()
            .filesMaxPartitionBytes()
        )

    def _data_root(self) -> str:
        """The directory the format resolves data-file paths against and
        hive partition paths start under (delta: the lake root; iceberg:
        ``data/``)."""
        if self.backend == "delta":
            return self.lake_root
        return os.path.join(self.lake_root, "data")

    def _partition_dirs(self, day: str, hour: str) -> tuple[str, str]:
        """The hive directories of the ``(yyyyMMdd, HH)`` partition, under
        :meth:`_data_root`."""
        if self.backend == "delta":
            return f"ingest_date={day}", f"ingest_hour={hour}"
        # transform layout (r10): the path carries the DERIVED day/hour
        # spells; ingest_date/ingest_hour are ordinary data columns
        iso = f"{day[0:4]}-{day[4:6]}-{day[6:8]}"
        return f"ingest_ts_day={iso}", f"ingest_ts_hour={iso}-{hour}"

    def _file_columns(self) -> list[str]:
        """The columns a data file stores: delta keeps its identity
        partition columns in the path only."""
        cols = [f.name for f in BOOK_SCHEMA.fields]
        return cols[:4] if self.backend == "delta" else cols

    def _partition_of(self, f: dict) -> tuple[str, str]:
        """The ``(ingest_date, ingest_hour)`` of a live file, from its
        metadata partition as the path spells it (iceberg:
        ``2026-08-13`` and ``2026-08-13-14`` back to the adapter's
        ``(yyyyMMdd, HH)``)."""
        p = f["partition"]
        if self.backend == "delta":
            return p["ingest_date"], p["ingest_hour"]
        return p["ingest_ts_day"].replace("-", ""), p["ingest_ts_hour"][-2:]

    def _read_book_row_groups(self, f: dict, drop=None) -> Iterator:
        """One live file as BOOK_SCHEMA arrow tables, one per row group,
        read driver-side with pyarrow on one thread, so a rewrite holds
        one row group of its input at a time (Spark's writer bounds a
        row group by ``parquet.block.size``, the driver's writer by the
        largest row group it read). ``ingest_ts`` at microseconds (Spark
        writes it as INT96), delta's partition columns restored from the
        logged partitionValues, the rows whose ``book_id`` is in the
        arrow array ``drop`` left out. Deleted positions are not
        applied: a rewrite refuses while any are pending, as the
        format's partial-overwrite commit does
        (:func:`_refuse_pending_deletes`)."""
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        cols = self._file_columns()
        schema = _arrow_book_schema()
        # mapped, so the compressed column chunks are not copied to the heap
        with pq.ParquetFile(
            f["path"], memory_map=True, coerce_int96_timestamp_unit="us"
        ) as pf:
            for i in range(pf.num_row_groups):
                t = pf.read_row_group(i, columns=cols, use_threads=False)
                for name in _PARTITION_COLS:
                    if name not in cols:
                        t = t.append_column(
                            name,
                            pa.array(
                                [f["partition"][name]] * t.num_rows, pa.string()
                            ),
                        )
                t = t.select(schema.names).cast(schema)
                if drop is not None:
                    t = t.filter(pc.invert(pc.is_in(t["book_id"], value_set=drop)))
                yield t
                del t  # before the next row group is read

    def _write_book_files(self, groups) -> tuple[str, list[str], int]:
        """Write BOOK_SCHEMA arrow tables driver-side with pyarrow: one
        parquet file per ``((day, hour), tables)`` group, into the
        partition's hive directory as ``part-NNNNN-<commit_uuid>.parquet``
        (a hidden tmp file, renamed once closed). Consecutive tables
        share row groups as :func:`_row_groups` packs them; a group with
        no rows writes no file. ``tables`` may be lazy, so a rewrite
        reads one input row group at a time. Returns
        ``(commit_uuid, rels, rows)``: the uuid the commit is attributed
        to, the written paths as the commit takes them (relative to the
        lake root; iceberg: to ``data/``) and the rows written."""
        import uuid

        import pyarrow.parquet as pq

        commit_uuid = uuid.uuid4().hex
        cols = self._file_columns()
        data_root = self._data_root()
        rels: list[str] = []
        rows = 0
        for (day, hour), tables in groups:
            seg = self._partition_dirs(day, hour)
            part_dir = os.path.join(data_root, *seg)
            name = f"part-{len(rels):05d}-{commit_uuid}.parquet"
            tmp = os.path.join(part_dir, f"._{name}.tmp")
            writer = None
            try:
                for rg in _row_groups(tables):
                    rg = rg.select(cols)
                    if writer is None:
                        os.makedirs(part_dir, exist_ok=True)
                        # no book column repeats values, so dictionary
                        # encoding would only build a memo, fall back and
                        # leave a dictionary page every later read decodes;
                        # the metadata prunes on book_id and ingest_ts
                        # only, and header/body min/max would copy whole
                        # texts (into the log too, up to 4 KB each); one
                        # row per encode batch closes each data page at
                        # pyarrow's page size instead of after a whole
                        # table of texts
                        writer = pq.ParquetWriter(
                            tmp,
                            rg.schema,
                            use_dictionary=False,
                            write_statistics=["book_id", "ingest_ts"],
                            write_batch_size=1,
                        )
                    writer.write_table(rg)
                    rows += rg.num_rows
                    del rg  # before the next row group is read
            finally:
                if writer is not None:
                    writer.close()
            if writer is not None:
                os.rename(tmp, os.path.join(part_dir, name))
                rels.append(os.path.join(*seg, name))
        return commit_uuid, rels, rows

    def _maintenance_ts_ms(self) -> int:
        """Commit stamp for maintenance commits (compact/expire): the MAX
        caller timestamp already in the log — i.e. the newest ingest time
        — NOT the wall clock. Adapter ingests stamp commits with ingest
        time, and ``read_as_of`` travels on that timeline; a wall-clock
        maintenance stamp would leave a window (last-ingest-stamp, now)
        in which ``read_as_of`` resolves to a PRE-maintenance version
        whose files the purge just deleted (delta: scan crash; iceberg:
        trimmed snapshot-log → silently empty lake). Stamping maintenance
        at the newest ingest time makes every cutoff >= that time resolve
        to the surviving post-maintenance snapshot (timestamp travel is
        last-match on ties). Falls back to the wall clock on an empty
        log (no timeline to join)."""
        import time as _time

        if self.backend == "delta":
            from tscd_datalake_adapter_spark.sources.delta_lite import (
                table_history,
            )

            stamps = [
                h["timestamp"]
                for h in table_history(self.lake_root)
                if h["timestamp"] is not None
            ]
        else:
            from tscd_datalake_adapter_spark.sources.iceberg_lite import (
                snapshots,
            )

            stamps = [s["timestamp_ms"] for s in snapshots(self.lake_root)]
        return max(stamps) if stamps else int(_time.time() * 1000)

    def _live_files(self) -> list[dict]:
        """The lake's live data files from the table format's metadata
        (``delta_lite.live_files`` / ``iceberg_lite.live_files``: path,
        byte size, record count, parsed stats, deleted positions,
        partition as the hive path spells it): each is a
        ``delta_lite.read_data_files`` record."""
        return self._live_files_and_base()[0]

    def _live_files_and_base(self) -> tuple[list[dict], dict | None]:
        """:meth:`_live_files` plus what a rewrite of them commits
        against, from the same metadata read: delta's replayed log state
        (passed to :meth:`_fmt_commit` as ``base``), None on iceberg,
        whose commit refuses ``replace_paths`` that are no longer live."""
        if self._empty():
            return [], None
        if self.backend == "iceberg":
            from tscd_datalake_adapter_spark.sources.iceberg_lite import (
                live_files,
            )

            return live_files(self.lake_root), None
        from tscd_datalake_adapter_spark.sources.delta_lite import (
            _replay,
            live_files,
        )

        base = _replay(self.lake_root, None)
        return live_files(self.lake_root, base), base

    def _files_holding(
        self, ids: set[int], live: list[dict]
    ) -> Iterator[dict]:
        """The files of ``live`` (:meth:`_live_files`) that hold at least
        one of ``ids``, from their metadata: a file whose stats rule out
        every id is dropped, a single-id file (:func:`_single_book_id`)
        is settled from its stats, and every other survivor has its
        ``book_id`` column read — lazily, after every stats-settled file
        was yielded, so a caller that stops at a stats-settled hit reads
        no column."""
        import bisect

        import numpy as np

        from tscd_datalake_adapter_spark.sources.delta_lite import (
            _stats_may_match,
        )

        wanted = sorted(ids)
        unsettled = []
        for f in live:
            lo = (f["stats"] or {}).get("minValues", {}).get("book_id")
            # the smallest wanted id the file's range could still hold
            i = 0 if lo is None else bisect.bisect_left(wanted, lo)
            if i == len(wanted) or not _stats_may_match(
                f["stats"], [("book_id", "=", wanted[i])]
            ):
                continue
            one = _single_book_id(f)
            if one is None:
                unsettled.append(f)
            elif one in ids:
                yield f
        for f in unsettled:
            if np.isin(_file_book_ids(f), wanted).any():
                yield f

    def _fmt_partition_tuples(self) -> set[tuple[str, str]]:
        """(ingest_date, ingest_hour) tuples with live files, from the
        format's metadata (no data read)."""
        return {self._partition_of(f) for f in self._live_files()}

    # -- write path (R2 + R4) ------------------------------------------------

    def ingest_text(self, book_id: object, raw_text: str, ts: dt.datetime) -> dict:
        """Split one raw book and append it to the lake (reference R9 minus
        the HTTP fetch; fetch variants below).

        Raises :class:`InvalidBookId` / :class:`IngestFailed` with the
        reference's error taxonomy instead of swallowing to booleans
        (``IngestionService.java:74-76`` — an observed defect, not parity).
        """
        bid = validate_book_id(book_id)
        res = split_book(raw_text)
        if not res.ok:
            raise IngestFailed(f"gutenberg markers missing/mis-ordered for {bid}")
        day, hour = partition_values(ts)
        # metadata-scale fast path: ONE row does not need a Spark job —
        # write the parquet file driver-side (pyarrow) into its hive
        # directory and commit it through the table format (delta log
        # commit / iceberg snapshot). At the reference's one-request-per-
        # book ingest rate this is the difference between ~2.5 ms and a
        # full cluster round-trip per POST /ingest/{id}; bulk paths
        # (ingest_raw_df) stay fully distributed. The one-row file carries
        # exact min=max footer stats, which the commit logs, so ``exists``
        # and ``list_books`` answer for it without opening it.
        import pyarrow as pa

        row = pa.table(
            {
                "book_id": [bid],
                "header": [res.header],
                "body": [res.body],
                "ingest_ts": [naive_utc(ts)],
                "ingest_date": [day],
                "ingest_hour": [hour],
            },
            schema=_arrow_book_schema(),
        )
        self._fmt_commit(
            self._write_book_files([((day, hour), [row])]),
            _ts_ms(ts),
            "INGEST",
            mode="append",
        )
        return {
            "book_id": bid,
            "status": "ingested",
            "path": self.relative_path_for(bid, ts),
            "date": day,
            "hour": hour,
            "backend": self.backend_label,
        }

    def ingest_raw_df(self, raw_df: DataFrame, ts: dt.datetime) -> int:
        """Distributed bulk ingest: split many raw books on executors.

        ``raw_df`` has schema ``(book_id long, raw string)``. The marker split
        runs as an Arrow-batched ``mapInPandas`` over the exact same pure
        function as the single-book path, so semantics cannot drift. Books
        that fail to parse are dropped (counted in the return value), matching
        the reference's fail-to-false behavior per book.

        This is the 100 TB path: fetch/stage elsewhere, split+write here with
        no driver materialization.
        """
        day, hour = partition_values(ts)
        ts_naive = naive_utc(ts)

        def _split(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                out = {
                    "book_id": [],
                    "header": [],
                    "body": [],
                    "ingest_ts": [],
                    "ingest_date": [],
                    "ingest_hour": [],
                }
                for bid, raw in zip(pdf["book_id"], pdf["raw"]):
                    res = split_book(raw if raw is not None else "")
                    if not res.ok:
                        continue
                    out["book_id"].append(bid)
                    out["header"].append(res.header)
                    out["body"].append(res.body)
                    out["ingest_ts"].append(ts_naive)
                    out["ingest_date"].append(day)
                    out["ingest_hour"].append(hour)
                pdf_out = pd.DataFrame(out)
                # Pin dtypes so empty batches don't infer float64 (Arrow
                # cannot cast that to timestamp/string).
                pdf_out = pdf_out.astype(
                    {"book_id": "int64", "ingest_ts": "datetime64[us]"}
                )
                yield pdf_out

        # Both counts ride the write job itself via observed metrics — one
        # row count above the split, one below. A single pass over the data
        # (no re-scan of raw_df, no re-read of the target partition), and
        # correct under concurrent ingests into the same partition because
        # nothing is derived from shared lake state.
        from pyspark.sql import Observation

        obs_in = Observation("ingest_raw_in")
        obs_out = Observation("ingest_raw_out")
        raw_counted = raw_df.observe(obs_in, F.count(F.lit(1)).alias("n"))
        split_df = raw_counted.mapInPandas(_split, schema=BOOK_SCHEMA).observe(
            obs_out, F.count(F.lit(1)).alias("n")
        )
        # the commit's caller timestamp is the INGEST time ``ts``, the
        # stamp read_as_of resolves versions against
        self._fmt_commit(split_df, _ts_ms(ts), "INGEST", mode="append")
        before = obs_in.get["n"]
        written = obs_out.get["n"]
        return before - min(before, written)

    def ingest_text_dir(self, path_glob: str, ts: dt.datetime) -> int:
        """Distributed whole-file ingest (reference R1's test mode,
        SURVEY.md §2.1: 'read local fixture files via spark.read.text(...,
        wholetext=True)'): each ``book_<id>.txt`` becomes one row, ids parsed
        from file names executor-side, then the bulk split/write path runs.
        Returns the number of files that failed to parse."""
        # NB: wholetext must be the .text() kwarg — .option("wholetext") is
        # silently ignored by the text source.
        raw = (
            self.spark.read.text(path_glob, wholetext=True)
            .select(
                F.regexp_extract(
                    F.input_file_name(), r"book_(\d+)\.txt", 1
                )
                .cast("long")
                .alias("book_id"),
                F.col("value").alias("raw"),
            )
            .where(F.col("book_id").isNotNull() & (F.col("book_id") > 0))
        )
        return self.ingest_raw_df(raw, ts)

    def fetch_urls_distributed(
        self, urls_df: DataFrame, timeout: float = 30.0
    ) -> DataFrame:
        """Executor-parallel fetch (reference R1's scale form, SURVEY.md §2.2:
        'udf/mapInPandas doing urllib calls inside executors for parallel
        fetch at scale' — ``IngestionService.java:26-30,43-52`` does one
        driver-side GET per book; at 100 TB the fetch itself must fan out).

        ``urls_df`` has schema ``(book_id long, url string)``. Each Arrow
        batch is fetched inside the Python worker with urllib (the
        reference's 30s read timeout), so fetch parallelism equals task
        parallelism and raw payloads are born distributed — never collected
        to the driver. Returns ``(book_id, raw, error)`` with exactly one of
        raw/error null per row: failures are data, not exceptions, matching
        the reference's per-book fail-soft behavior.

        Tests drive this offline via ``file://`` URLs (urllib handles the
        scheme identically); production uses :func:`gutenberg_url`.
        """
        out_schema = T.StructType(
            [
                T.StructField("book_id", T.LongType(), False),
                T.StructField("raw", T.StringType(), True),
                T.StructField("error", T.StringType(), True),
            ]
        )

        def _fetch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            import http.client
            import urllib.request

            for pdf in batches:
                ids, raws, errs = [], [], []
                for bid, url in zip(pdf["book_id"], pdf["url"]):
                    ids.append(int(bid))
                    try:
                        req = urllib.request.Request(
                            str(url), headers={"User-Agent": "TAHS-Ingestion/1.0"}
                        )
                        with urllib.request.urlopen(req, timeout=timeout) as resp:
                            status = getattr(resp, "status", 200)
                            if status and status != 200:
                                raise OSError(f"HTTP {status}")
                            raws.append(resp.read().decode("utf-8"))
                            errs.append(None)
                    # HTTPException covers mid-body failures (IncompleteRead,
                    # BadStatusLine) that are not OSErrors — a flaky origin
                    # must yield an error ROW, never a task failure.
                    except (
                        OSError,
                        ValueError,
                        UnicodeDecodeError,
                        http.client.HTTPException,
                    ) as exc:
                        raws.append(None)
                        errs.append(f"fetch failed: {exc!r}")
                yield pd.DataFrame(
                    {"book_id": pd.array(ids, dtype="int64"), "raw": raws, "error": errs}
                )

        return urls_df.mapInPandas(_fetch, schema=out_schema)

    def ingest_urls(
        self, urls_df: DataFrame, ts: dt.datetime, timeout: float = 30.0
    ) -> dict:
        """Fully-distributed R1 pipeline: fetch → split → stage → lake write,
        all executor-side (fetch via :meth:`fetch_urls_distributed`, split+
        write via :meth:`ingest_raw_df`). Returns per-stage failure counts.
        The fetched frame is cached for the duration: it feeds both the
        failure count and the write, and re-fetching on recompute would be
        both slow and non-idempotent against a live origin."""
        fetched = self.fetch_urls_distributed(urls_df, timeout=timeout).cache()
        try:
            n_fetch_failed = fetched.where(F.col("error").isNotNull()).count()
            ok = fetched.where(F.col("error").isNull()).select("book_id", "raw")
            n_split_failed = self.ingest_raw_df(ok, ts)
        finally:
            fetched.unpersist()
        return {
            "fetch_failed": n_fetch_failed,
            "split_failed": n_split_failed,
            "backend": self.backend_label,
        }

    def fetch_and_ingest(self, book_id: object, ts: dt.datetime | None = None) -> dict:
        """Driver-side fetch (reference R1: GET gutenberg.org, 10s/30s
        timeouts) then :meth:`ingest_text`. Network-dependent; tests use
        :meth:`ingest_text` on local fixture texts instead (SURVEY.md §7
        non-goals)."""
        import urllib.request

        bid = validate_book_id(book_id)
        req = urllib.request.Request(
            gutenberg_url(bid), headers={"User-Agent": "TAHS-Ingestion/1.0"}
        )
        try:
            with urllib.request.urlopen(req, timeout=30) as resp:
                if resp.status != 200:
                    raise IngestFailed(f"HTTP {resp.status} for {bid}")
                raw = resp.read().decode("utf-8")
        except OSError as exc:
            raise IngestFailed(f"fetch failed for {bid}: {exc}") from exc
        return self.ingest_text(bid, raw, ts or dt.datetime.now(dt.timezone.utc))

    # -- read path (R5 + R6 + R7) --------------------------------------------

    def read(self) -> DataFrame:
        """The whole lake as a DataFrame (partition columns read as
        strings), by log/snapshot replay — only COMMITTED files are
        visible (a crashed writer's stray parquet cannot surface); an
        uncreated lake reads as the empty book table."""
        if self._empty():
            return self.spark.createDataFrame([], BOOK_SCHEMA)
        if self.backend == "delta":
            from tscd_datalake_adapter_spark.sources.delta_lite import (
                read_delta,
            )

            return read_delta(self.spark, self.lake_root)
        from tscd_datalake_adapter_spark.sources.iceberg_lite import (
            read_iceberg,
        )

        return read_iceberg(self.spark, self.lake_root)

    @staticmethod
    def _newest_version_per_book(df: DataFrame) -> DataFrame:
        """One row per ``book_id`` — newest by ``ingest_ts`` (ties broken by
        partition values, newest first). The single version-resolution rule
        shared by :meth:`read_latest` and :meth:`read_as_of`; one window
        shuffle keyed on ``book_id``."""
        from pyspark.sql import Window

        w = Window.partitionBy("book_id").orderBy(
            F.col("ingest_ts").desc(),
            F.col("ingest_date").desc(),
            F.col("ingest_hour").desc(),
        )
        return (
            df.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .drop("_rn")
        )

    def read_latest(self) -> DataFrame:
        """The newest-version-per-book view. Plain APPENDS of the same id
        legitimately coexist as multiple versions on both backends (the
        reference's duplicate-ingest behavior), so content queries that
        want one row per book read this; MERGE removes superseded rows
        transactionally, so only append-created duplicates remain. At
        100 TB this is one window shuffle keyed on ``book_id``."""
        return self._newest_version_per_book(self.read())

    def read_as_of(self, ts: dt.datetime) -> DataFrame:
        """Time-travel read: the lake as it stood at ``ts`` — for each book,
        the newest version with ``ingest_ts <= ts``; books first ingested
        after ``ts`` are absent.

        Resolved through the TRANSACTION LOG (r8 verdict item 1): the
        snapshot is the latest commit (delta version / iceberg snapshot)
        whose caller timestamp — the ingest time every adapter write
        stamps into its commit — is <= the cutoff, so commits after the
        cutoff contribute NO FILES to the scan at all; the ``ingest_ts``
        cutoff filter and the newest-version window then resolve rows
        within the snapshot (exact under backdated out-of-order ingests
        too, where version resolution alone would over-include the
        backdated commit's prefix)."""
        ts = naive_utc(ts)
        if self._empty():
            return self.spark.createDataFrame([], BOOK_SCHEMA)
        if self.backend == "delta":
            from tscd_datalake_adapter_spark.sources.delta_lite import (
                read_delta,
                version_as_of,
            )

            v = version_as_of(self.lake_root, _ts_ms(ts), field="timestamp")
            if v is None:
                return self.spark.createDataFrame([], BOOK_SCHEMA)
            snapshot = read_delta(self.spark, self.lake_root, version=v)
        else:
            from tscd_datalake_adapter_spark.sources.iceberg_lite import (
                read_iceberg,
            )

            try:
                snapshot = read_iceberg(
                    self.spark,
                    self.lake_root,
                    as_of_timestamp_ms=_ts_ms(ts),
                )
            except ValueError:  # cutoff predates the first commit
                return self.spark.createDataFrame([], BOOK_SCHEMA)
        return self._newest_version_per_book(
            snapshot.where(F.col("ingest_ts") <= F.lit(ts))
        )

    def _empty(self) -> bool:
        if self.backend == "delta":
            return not os.path.isdir(
                os.path.join(self.lake_root, "_delta_log")
            )
        from tscd_datalake_adapter_spark.sources.iceberg_lite import (
            _current_version,
        )

        return _current_version(self.lake_root) is None

    def exists(self, book_id: object) -> bool:
        """Reference R5 (``S3DatalakeStorage.java:64-86``) done right: the
        reference pays an O(total objects) sequential key scan.

        No Spark job. Files whose stats prove ``book_id = ?`` cannot
        match are dropped; a surviving file whose stats pin it to exactly
        this id (and has no deleted positions) answers without being
        opened; any other survivor has its ``book_id`` column read. Cost:
        one metadata read plus that column of the files whose id range
        covers the id."""
        bid = validate_book_id(book_id)
        holding = self._files_holding({bid}, self._live_files())
        return next(holding, None) is not None

    def list_books(self) -> list[int]:
        """Reference R6 (``S3DatalakeStorage.java:89-119``): the sorted
        distinct ids.

        No Spark job. A file whose stats pin it to one id contributes
        that id unopened; every other non-empty file has its ``book_id``
        column read. The work on the Spark driver grows with the result,
        which is returned there anyway."""
        ids: set[int] = set()
        for f in self._live_files():
            one = _single_book_id(f)
            if one is not None:
                ids.add(one)
            elif f["record_count"] != 0:
                ids.update(_file_book_ids(f).tolist())
        return sorted(ids)

    def relative_path_for(self, book_id: object, ts: dt.datetime) -> str:
        """Reference R7 (``S3DatalakeStorage.java:121-124,142-150``):
        ``datalake/{yyyyMMdd}/{HH}/{id}`` — response-display only (the
        reference's version matches no stored key either; SURVEY.md §1.1)."""
        bid = validate_book_id(book_id)
        day, hour = partition_values(ts)
        return f"datalake/{day}/{hour}/{bid}"

    # -- upsert (MERGE) ------------------------------------------------------

    def merge_books(
        self, updates: DataFrame, ts: dt.datetime, purge: bool = True
    ) -> None:
        """MERGE/upsert on the lake: every existing row of an updated
        ``book_id`` is removed and replaced by the new version in the ``ts``
        partition (delete-and-insert, the Delta MERGE semantic).

        ``updates`` has schema ``(book_id long, header string, body string)``.

        A file-scoped copy-on-write planned from the table format's
        metadata, the connector's find-touched-files-then-rewrite shape.
        ``updates`` is persisted for the call unless the caller already
        cached it. Job 1 collects each update's ``book_id`` and byte size
        (``octet_length`` of header plus body) to the driver; the id set
        is the one the Spark rewrite's broadcast anti-join builds, so the
        driver held it before too. The touched files are then chosen from
        the live-file metadata as :meth:`exists` chooses them (stats drop
        files that hold no updated id, single-id files settle from stats,
        the rest have their ``book_id`` column read with pyarrow), and
        only they are rewritten, as ONE ``replace_paths`` overwrite: the
        touched files are removed and the merged files added atomically;
        every other file, in touched partitions too, keeps its
        add/manifest entry unread. Where the rewrite runs:

        - when the updates hold at most one input split
          (:meth:`_split_bytes`): on the driver, in two Spark jobs in
          all. Job 2 collects the update rows; pyarrow reads the touched
          files one row group at a time, drops the updated ids and
          writes one file per partition, the ``ts`` partition's ending
          with the new rows. The driver holds the updates and about two
          row groups, however many bytes the touched files hold.
        - otherwise: in Spark, in three jobs in all, so that the updates
          are never collected. The touched files are read and
          anti-joined against the broadcast ids (job 2 builds the
          broadcast), unioned with the new rows and written (job 3).

        A partition whose every row is updated away gets no new files and
        is thereby dropped. ``purge=True`` physically unlinks the removed
        files right after the commit (delta: targeted purge; iceberg:
        snapshot expiry) and prunes the emptied partition directories;
        pass ``purge=False`` to retain them for time travel to pre-merge
        versions. Iceberg refuses the merge while live position-delete
        files are pending (``materialize_deletes`` first).
        """
        from pyspark import StorageLevel

        from tscd_datalake_adapter_spark.functions import persist_corpus

        cached = updates.storageLevel != StorageLevel.NONE
        upd = updates if cached else persist_corpus(updates)
        try:
            sized = upd.select(
                "book_id",
                (
                    F.coalesce(F.octet_length("header"), F.lit(0))
                    + F.coalesce(F.octet_length("body"), F.lit(0))
                ).alias("size"),
            ).collect()
            ids = {r.book_id for r in sized}
            if None in ids:
                raise InvalidBookId("merge_books updates hold a null book_id")
            # chosen after the collect: on the Spark path only driver
            # metadata work separates the choice from the commit's own
            # log/metadata read; the driver path commits against `base`
            live, base = self._live_files_and_base()
            touched = list(self._files_holding(ids, live))
            paths = [f["path"] for f in touched]
            if sum(r.size for r in sized) > self._split_bytes():
                from tscd_datalake_adapter_spark.sources.delta_lite import (
                    read_data_files,
                )

                keep = read_data_files(
                    self.spark, self._data_root(), BOOK_SCHEMA, touched
                ).join(
                    F.broadcast(upd.select("book_id")), "book_id", "left_anti"
                )
                self._fmt_commit(
                    _with_new_rows(keep, upd, ts),
                    _ts_ms(ts),
                    "MERGE",
                    purge=purge,
                    paths=paths,
                )
                return
            _refuse_pending_deletes(live)
            self._fmt_commit(
                self._write_book_files(
                    self._merged_groups(touched, ids, upd, ts)
                ),
                _ts_ms(ts),
                "MERGE",
                purge=purge,
                paths=paths,
                base=base,
            )
        finally:
            if not cached:
                upd.unpersist()

    def _merged_groups(
        self, touched: list[dict], ids: set[int], upd: DataFrame, ts: dt.datetime
    ) -> list:
        """The driver-side merge's :meth:`_write_book_files` groups: per
        partition of a touched file, its rows without the updated ids
        (read lazily, one row group at a time); the ``ts`` partition's group
        ends with the update rows, collected here as arrow (one job)."""
        import itertools

        import pyarrow as pa

        got = upd.select("book_id", "header", "body").toArrow()
        day, hour = partition_values(ts)
        n = got.num_rows
        new_rows = pa.Table.from_arrays(
            [
                got["book_id"],
                got["header"],
                got["body"],
                pa.array([naive_utc(ts)] * n, pa.timestamp("us")),
                pa.array([day] * n, pa.string()),
                pa.array([hour] * n, pa.string()),
            ],
            names=[f.name for f in BOOK_SCHEMA.fields],
        ).cast(_arrow_book_schema())
        drop = pa.array(sorted(ids), pa.int64())

        def kept(files):
            for f in files:
                yield from self._read_book_row_groups(f, drop)

        by_part: dict[tuple[str, str], list[dict]] = {}
        for f in touched:
            by_part.setdefault(self._partition_of(f), []).append(f)
        own = by_part.pop((day, hour), [])
        return [(p, kept(fs)) for p, fs in by_part.items()] + [
            ((day, hour), itertools.chain(kept(own), [new_rows]))
        ]

    # -- maintenance ---------------------------------------------------------

    def compact(self, ingest_date: str, ingest_hour: str, target_files: int = 1) -> int:
        """Small-file compaction for one partition (the lake-maintenance op
        every append-only ingest lake needs at scale: each single-book ingest
        commits its own file; queries want few large files).

        OPTIMIZE as one replace-partitions commit, rewritten on the
        driver with no Spark job: the partition's live files, chosen
        from the table format's metadata, are read with pyarrow one row
        group at a time; each consecutive run of about a
        ``target_files``-th of their logged bytes is written into one
        new file; the format's metadata-only commit replaces the
        partition's files with the new ones and purges the old ones,
        atomically. Other partitions are untouched. The driver holds
        about two row groups at a time, whatever the partition's size.
        Returns the number of rows written. A partition with no live
        files returns 0 without a commit; pending iceberg position
        deletes make it raise before any file is written
        (``materialize_deletes`` first).
        """
        import itertools

        if target_files < 1:
            raise ValueError(f"target_files must be >= 1, got {target_files}")
        live, base = self._live_files_and_base()
        files = [
            f for f in live if self._partition_of(f) == (ingest_date, ingest_hour)
        ]
        if not files:
            return 0
        _refuse_pending_deletes(live)
        # stamped at the newest ingest time, not the wall clock
        # (ADVICE r9): see _maintenance_ts_ms
        ts_ms = self._maintenance_ts_ms()
        # consecutive runs of about equal logged bytes, one per new file:
        # a file joins the run its midpoint falls in
        k = min(target_files, len(files))
        runs: list[list[dict]] = [[] for _ in range(k)]
        total, before = max(1, sum(f["size"] for f in files)), 0
        for f in files:
            runs[min(k - 1, (2 * before + f["size"]) * k // (2 * total))].append(f)
            before += f["size"]
        written = self._write_book_files(
            (
                (ingest_date, ingest_hour),
                itertools.chain.from_iterable(
                    map(self._read_book_row_groups, run)
                ),
            )
            for run in runs
            if run
        )
        self._fmt_commit(
            written,
            ts_ms,
            "OPTIMIZE",
            purge=True,
            parts=[{"ingest_date": ingest_date, "ingest_hour": ingest_hour}],
            base=base,
        )
        return written[2]

    def expire(self, before_date: str) -> int:
        """Retention: drop whole partitions with ``ingest_date`` strictly
        before ``before_date`` (``yyyyMMdd``). Returns the number of DAY
        partitions removed.

        One remove-only commit (an empty write replacing exactly the
        expired partitions) followed by a physical purge — readers of the
        latest version never see a partial delete."""
        expired = {
            (d, h) for d, h in self._fmt_partition_tuples() if d < before_date
        }
        if not expired:
            return 0
        self._fmt_commit(
            self.spark.createDataFrame([], BOOK_SCHEMA),
            # stamped at the newest ingest time, not the wall clock
            # (ADVICE r9): see _maintenance_ts_ms
            self._maintenance_ts_ms(),
            "EXPIRE",
            purge=True,
            parts=[
                {"ingest_date": d, "ingest_hour": h} for d, h in sorted(expired)
            ],
        )
        return len({d for d, _ in expired})

    def log_position(self) -> int | None:
        """Opaque resume cursor for :meth:`books_ingested_since` — the
        newest commit the log currently holds (delta: latest version;
        iceberg: current snapshot id). None on an empty lake (= "from
        the beginning")."""
        if self._empty():
            return None
        if self.backend == "delta":
            from tscd_datalake_adapter_spark.sources.delta_lite import (
                _log_head,
            )

            return _log_head(self.lake_root)[2]
        from tscd_datalake_adapter_spark.sources.iceberg_lite import (
            load_metadata,
        )

        sid = load_metadata(self.lake_root)["current-snapshot-id"]
        return None if sid == -1 else sid

    def books_ingested_since(self, position: int | None) -> DataFrame:
        """Change-feed poll over the reference surface: the book rows
        appended by INGEST commits AFTER ``position`` (a prior
        :meth:`log_position`; None = everything) — the consumer pattern
        the reference's one-book-per-request ingestion naturally feeds
        ("give me the books that arrived since my last poll"), at the
        cost of the increment, never a rescan. Maintenance commits
        (MERGE/OPTIMIZE/EXPIRE) rewrite surviving rows; they are NOT new
        books and are skipped by the operation filter. Uniform
        BOOK_SCHEMA columns across backends."""
        cols = [f.name for f in BOOK_SCHEMA.fields]
        if self._empty():
            return self.spark.createDataFrame([], BOOK_SCHEMA)
        if self.backend == "delta":
            from tscd_datalake_adapter_spark.sources.delta_lite import (
                read_delta_changes,
            )

            start = 0 if position is None else int(position) + 1
            if start > self.log_position():
                return self.spark.createDataFrame([], BOOK_SCHEMA)
            return read_delta_changes(
                self.spark,
                self.lake_root,
                start,
                operations=("INGEST",),
            ).select(*cols)
        from tscd_datalake_adapter_spark.sources.iceberg_lite import (
            read_iceberg_incremental,
        )

        return read_iceberg_incremental(
            self.spark,
            self.lake_root,
            position,
            operations=("INGEST",),
            skip_non_append=True,
        ).select(*cols)

    def history(self) -> list[dict]:
        """DESCRIBE HISTORY of the lake's log: one record per commit
        (delta) or snapshot (iceberg) with its operation."""
        if self._empty():
            return []
        if self.backend == "delta":
            from tscd_datalake_adapter_spark.sources.delta_lite import (
                table_history,
            )

            return table_history(self.lake_root)
        from tscd_datalake_adapter_spark.sources.iceberg_lite import (
            snapshots,
        )

        return snapshots(self.lake_root)

    def vacuum(self, retain_versions: int = 1) -> list[str]:
        """Physically delete data files referenced only by versions older
        than the newest ``retain_versions`` (delta: VACUUM; iceberg:
        snapshot expiry) — the retention cleanup that pairs with log time
        travel."""
        if self.backend == "delta":
            from tscd_datalake_adapter_spark.sources.delta_lite import (
                vacuum_delta,
            )

            return vacuum_delta(
                self.lake_root, retain_versions=retain_versions
            )
        from tscd_datalake_adapter_spark.sources.iceberg_lite import (
            expire_snapshots,
        )

        return expire_snapshots(self.lake_root, keep_last=retain_versions)

    def erase_book(self, book_id: object, physical: bool = False) -> dict:
        """Row-level GDPR-style erasure: delete EVERY row of ``book_id``
        from the lake, on both table-format backends, as one commit
        (r11; delta via :func:`delta_lite.delete_delta`, iceberg via
        :func:`iceberg_lite.delete_iceberg` — both bounds-pruned
        copy-on-write, so only files whose book_id range covers the
        target are rewritten; single-book ingest files carry exact
        min==max stats, making this a one-file rewrite in the common
        layout).

        The delete alone keeps pre-delete versions readable (time
        travel); ``physical=True`` additionally runs the retention
        cleanup (:meth:`vacuum` with ``retain_versions=1``) so the
        erased bytes are physically unlinked — the actual GDPR contract.

        Returns ``{"book_id", "deleted_rows", "rewritten_files",
        "erased_files", "backend"}``."""
        bid = validate_book_id(book_id)
        if self.backend == "delta":
            from tscd_datalake_adapter_spark.sources.delta_lite import (
                delete_delta,
            )

            res = delete_delta(
                self.spark, self.lake_root, f"book_id = {bid}"
            )
        else:
            from tscd_datalake_adapter_spark.sources.iceberg_lite import (
                delete_iceberg,
            )

            res = delete_iceberg(
                self.spark, self.lake_root, f"book_id = {bid}"
            )
        erased: list[str] = []
        if physical and res["deleted_rows"]:
            erased = self.vacuum(retain_versions=1)
        return {
            "book_id": bid,
            "deleted_rows": res["deleted_rows"],
            "rewritten_files": res["rewritten_files"],
            "erased_files": len(erased),
            "backend": self.backend_label,
        }

    # -- convenience for tests ----------------------------------------------

    def ingest_files(self, paths: Iterable[str], ts: dt.datetime) -> list[dict]:
        """Ingest local ``book_<id>.txt`` fixture files (FIXTURES.md §F2)."""
        out = []
        for p in paths:
            name = os.path.basename(p)
            bid = int(name.replace("book_", "").replace(".txt", ""))
            with open(p, encoding="utf-8") as fh:
                out.append(self.ingest_text(bid, fh.read(), ts))
        return out
